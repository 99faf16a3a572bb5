#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
two JSON lines: first the full detail record {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "sf": ..., "cpus":
N} (also written to BENCH_DETAIL.json), then a compact summary line
guaranteed to fit the driver's 2,000-byte stdout tail — the driver
parses the LAST line, and the full per-query maps outgrew the tail at
75 queries. The compact line carries the most-expensive-first PREFIX
of the per-query seconds map that fits the byte budget (plus
"queries_omitted"), so run-over-run and cross-core-count comparisons
get real per-query data without risking the parse.

Each query executes fully via the `noop` sink (no driver-side collect,
no result materialization cost in the timing), through
``flink_kafka_spark.observe.run``: the timed window is the DataFrame
build plus the action.

Regression guardrail: per-query medians are compared against the
committed baseline (BENCH_BASELINE.json, same sf only). Absolute
seconds on a shared box swing several-x with ambient load (the same
suite once measured 13.8 s, 27.1 s and 65.7 s under different machine
states with no code change), so the comparison is
NORMALIZED: every bench session times a fixed calibration workload
(pure Spark, independent of this repo's code) and queries are compared
by their ratio to it — machine slowness cancels, code slowness does
not. Any query whose normalized time exceeds REGRESSION_FACTOR x its
baseline ratio is listed in the JSON line's "regressions" field and on
stderr. Exit code stays 0 so the driver's bench recording never breaks
on single-JVM variance; run ``python bench.py --check`` to exit 1 on
regressions instead (pre-commit usage). Sub-0.5 s baselines are exempt
(run-to-run noise is ~±0.2 s at that scale). If the committed baseline
predates calibration (no "calibration_sec"), the guardrail falls back
to absolute seconds.

BASELINE FREEZE POLICY: BENCH_BASELINE.json
is FROZEN. A baseline that tracks current performance can only ever
see one round of drift, so re-recording it requires (a) a commit
message stating the plan-shape justification (a query's pinned plan
changed, or a query was added/removed from BENCH_QUERIES with no
prior baseline entry), and (b) leaving the superseded file to git
history, where drift across re-records stays measurable.
Queries absent from the baseline (newly benched) are skipped by the
guardrail until the next justified re-record — that is intentional,
not a reason to refresh.

RECORDING PRECONDITION: before recording, confirm
the in-run calibration agrees with a few STANDALONE _calibrate probes
taken minutes apart. Calibration (a CPU-burst shuffle) degrades ~2x
faster under box contention than the mixed parquet/query walls do, so
a record taken on a contended box bakes in an inflated calibration:
every later normalized comparison reads high, and once the two
calibrations differ by >1.5x the comparable-box waiver disables the
raw backstop too — one contended record produced 57 false regressions
on unchanged code exactly this way."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as _F  # noqa: E402

from flink_kafka_spark import observe  # noqa: E402
from flink_kafka_spark.queries import all_queries  # noqa: E402
from flink_kafka_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    # reference-surface (streaming semantics on batch path)
    "hot_items_topn",
    "hot_items_sql",
    "page_views",
    "unique_visitors",
    "channel_stats",
    "login_fail_detect",
    "order_timeout",
    "sessionize",
    "order_ship_interval_join",
    # batch-relational headline
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    # training-data pipeline extensions
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_stats",
    "corpus_prep",
    "media_decode_meta",
    "media_frame_sample",
    "sequence_packing",
    "mixture_resample",
    "funnel_conversions",
    "decontaminate",
    "uv_bloom",
    "inverted_index",
    "bm25_search",
    "embedding_quantize",
    # the connected-components canonicalizer. The PQ ANN path stays
    # out: its 8 KMeans fits per invocation are training cost, not
    # query cost, and would dominate the bench's time budget.
    "dedup_canonicalize",
    # the mega-cluster-safe keep-best twin, benched alongside its
    # default-plan sibling so the min_by + broadcast winner plan gets a
    # wall-time datapoint.
    "dedup_canonicalize_skew",
    # the three dedup span shapes — span-level substring stats
    # (explode-heaviest plan in the registry), the span-excising trim,
    # and incremental batch-vs-reference near-dup.
    "dedup_span_stats",
    "dedup_span_trim",
    "dedup_incremental",
    # the containment twin (same bucket-pairing plan as
    # dedup_ngram_jaccard, different score) and SemDeDup (the KMeans
    # fit is intrinsic to the operator — unlike PQ's 8 codebook fits,
    # it's one k=8 fit, so it stays in the timing).
    "dedup_containment",
    "semantic_dedup",
    # the MG sketch (mapInPandas partials), vocab-bounded PMI pair
    # counts, the per-user transition window, MMR's cogrouped greedy,
    # the A-Res sample window, and the fingerprint full-outer diff.
    "heavy_hitters",
    "word_pmi",
    "event_transitions",
    "mmr_rerank",
    "weighted_sample",
    "snapshot_diff",
    # the interpolated bigram LM (the registry's biggest LM join), the
    # hashed classifier gate (pure-scan floor — the cheapest possible
    # corpus pass, a useful lower-bound row), the vocab OOV audit,
    # blocked fuzzy linkage, and PSI drift.
    "doc_bigram_logprob",
    "clf_quality_score",
    "vocab_oov_rate",
    "fuzzy_part_matches",
    "value_drift_psi",
    # the composed no-model semantic near-dup (embedder + sign-bit LSH
    # + blocked cosine) — the whole pipeline under one timing row.
    "doc_semantic_pairs",
    # the full assembly compose (gates + decontam + mixture + split).
    "training_mix_snapshot",
    # distinct window plan shapes: four window passes on one shuffle,
    # and the diff-ship-apply SMJ compose.
    "scd2_history",
    "changelog_roundtrip",
    # the four correlated-subquery TPC-H shapes that complete the
    # q1-q22 block, all built on the derived-partsupp bridge (one
    # map-side-combined lineitem shuffle).
    "tpch_q2",
    "tpch_q9",
    "tpch_q11",
    "tpch_q20",
    # index-driven batch retrieval after the query-term pre-filter
    # below the dfreq window.
    "multi_query_search",
    # grid resample + ffill, RANGE-interval moving aggregate,
    # first-arrival dedup, BPE pair induction.
    "events_gapfill",
    "orders_moving_revenue",
    "events_dedup_late",
    "bpe_merge_candidates",
    "orders_cube",
    "fk_coverage_audit",
    "session_windows_native",
    "agg_incremental_update",
    "events_gapfill_interp",
    "events_key_skew",
    # histogram-quantile curriculum buckets and the iterative BPE merge
    # trainer (driver-loop; plan built by running the rounds).
    "quality_curriculum",
    "bpe_train_merges",
    # sketch family: CM sketch estimates and KMV set algebra (each
    # carries its exact check-scale baseline in-plan).
    "cms_topk_estimates",
    "kmv_set_cardinality",
    # iterative graph op (12 fixed-point rounds over the source-overlap
    # graph; CC-style checkpoint loop).
    "source_pagerank",
    # tokenizer round-trip (learn merges, then tokenize the corpus with
    # one composed JVM fold).
    "bpe_tokenize_stats",
    # native Datasketches HLL sub-sketch rollup.
    "uv_hll_rollup",
    # per-group percentile winsorization.
    "events_value_winsorize",
    # KMV pair-intersection set algebra over source shingle
    # vocabularies (full oracle) and the native KLL quantile rollup
    # (rows-only, pytest value bounds).
    "kmv_pair_intersections",
    "kll_quantile_rollup",
    # the one-scan DQ expectation audit (stack pivot over a single
    # aggregate — the cheapest multi-metric pass shape) and per-label
    # centroid drift (posexplode + integer-exact (label, dim) sums,
    # corpus centroid reused from the same frame).
    "dq_expectations",
    "embedding_drift",
    # the l-diversity release gate — three windows on one quasi-key
    # shuffle (the k_anonymity shape plus diversity).
    "l_diversity_audit",
    # the Morton z-order layout audit — pure-codegen key against
    # broadcast bounds + one bucket agg.
    "zorder_layout",
    # compose flagship: dedup -> privacy funnel in one scan.
    "release_gate_snapshot",
    # leave-one-out hour-of-week anomaly scores (one corpus shuffle + a
    # tiny seasonal window regroup).
    "seasonal_anomalies",
    # t-closeness (privacy triad completion) — one corpus cell shuffle,
    # then sketch-sized distance algebra.
    "t_closeness_audit",
    # media perceptual-hash near-dup (one payload-hash pass, persisted
    # signatures, pigeonhole chunk buckets) and its incremental
    # batch-vs-reference twin.
    "media_phash_dedup",
    "media_phash_incremental",
    # winnowing fingerprints (MOSS selection) — zero-shuffle per-row
    # array pipeline over one pushed scan — and the overlap detector
    # built on the winnowed sub-sample (containment_pairs' bucket-join
    # shape over ~2/(w+1) of the items).
    "doc_winnow_fingerprint",
    "winnow_overlap_pairs",
    # two-level epoch shuffle — one block exchange vs the global
    # permutation's range machinery.
    "block_shuffle",
    # train/eval decontamination on the winnowed sub-sample (stored-
    # index capable) and its spans/excision consumer.
    "winnow_decontaminate",
    "winnow_contaminated_spans",
    "winnow_decontaminate_trim",
    # hybrid sparse+dense retrieval — BM25 + exact-cosine candidate
    # lists fused by integer-exact reciprocal-rank fusion
    # (candidate-bounded frames; the walls are the two rankers).
    "hybrid_rrf_search",
    # stride-scheduled weighted source interleave (one per-source rn
    # shuffle + the export_shards range machinery).
    "source_interleave",
    # one-pass multi-benchmark decontamination (two synthetic benchmark
    # splits; corpus-scale cost independent of benchmark count).
    "winnow_decontaminate_multi",
]


def _calibrate(spark) -> float:
    """Median-of-3 timing of a fixed synthetic workload — scan + hash +
    shuffle + aggregate over spark.range, touching none of this repo's
    code — used to normalize query timings against ambient machine
    load. The workload is pinned; never change it without re-baselining
    (the guardrail compares ratios to it across sessions)."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(30_000_000)
            .selectExpr("xxhash64(id) AS h")
            .groupBy((_F.col("h") % 64).alias("b"))
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        runs.append(time.perf_counter() - t0)
    return round(sorted(runs)[1], 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    # the session's REAL core count (local[N] => N), recorded in both
    # output lines so the driver can (a) join per-query seconds across
    # its 32-core and low-core runs and (b) see which run is which
    cpus = spark.sparkContext.defaultParallelism
    # The CC-backed queries release their localCheckpoint-backed label
    # RDDs at every query boundary BY DESIGN (caching.py contract:
    # checkpoint blocks are invisible to DataFrame unpersist, so the
    # operator tracks and drops them itself). Spark logs a WARN for
    # every such release — "RDD ... was locally checkpointed, its
    # lineage has been truncated and cannot be recomputed after
    # unpersisting" — which is the expected voice of that hygiene, not
    # a problem, and dozens of them drown the bench tail where the
    # driver's probes and REAL warnings surface. Silence exactly that
    # logger; everything else stays at WARN.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    registry = all_queries()

    # Warm the JVM once per query shape at the smallest SF (codegen
    # compilation, parquet reader init, broadcast machinery) so the
    # timed runs measure steady-state throughput, not first-call
    # compilation. Not counted. The compiled classes stay cached: the
    # 95 queries compile 1,713 distinct classes at sf0.001, inside the
    # session's generated-code cache (observe.warm says when the timed
    # runs reuse them).
    observe.warm(spark, [registry[name] for name in BENCH_QUERIES])

    # calibration AFTER warm-up, in the same machine state as the
    # timed runs — this anchors the cross-session ratio comparison.
    # Taken again after the sweep and averaged: ambient load drifts
    # WITHIN the ~2-minute sweep, and a single-point calibration that
    # happens to catch a fast (or slow) moment skews every normalized
    # ratio the same direction (observed: cal 0.25 s with the very
    # next queries running 25% slower than the same-session baseline).
    calibration_pre = _calibrate(spark)

    # median of 3 runs per query: single-JVM local mode has noticeable
    # run-to-run GC/JIT variance; the median is the steady-state number.
    # The repetitions are ROUND-ROBIN (all queries once, then again)
    # rather than back-to-back: ambient slow phases on a shared box
    # last seconds, so three consecutive runs of one query all land in
    # the phase and its median absorbs the full slowdown — spread out,
    # the phase taxes one rep of many queries and the median discards
    # it (observed: consecutive-rep benches flagged a different
    # untouched query as regressed on every invocation).
    # Cache hygiene between queries: observe.run releases the tracked
    # persists and clears the catalog cache after every run, and reports
    # any RDD still persistent afterwards, so nothing leaks from one
    # timed query into the next. A leak found
    # on any rep is reported.
    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    leaked: list[str] = []
    for _rep in range(3):
        for name in BENCH_QUERIES:
            rec = observe.run(spark, registry[name], sf_dir)
            samples[name].append(rec["wall_s"])
            if rec["leaked_rdds"] and name not in leaked:
                leaked.append(name)
    timings = {name: round(sorted(runs)[1], 3) for name, runs in samples.items()}

    calibration = round((calibration_pre + _calibrate(spark)) / 2, 3)

    # load the frozen baseline ONCE and hand it to both consumers, so
    # the regression gate and the vs_baseline annotation can never
    # read different file states within one run
    baseline = _load_baseline(sf)
    detail = {
        "metric": "headline queries wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "calibration_sec": calibration,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }
    # The vs-baseline guardrail is only meaningful at the baseline's
    # core count: at a lower count the calibration workload SPEEDS UP
    # (fewer tasks, less scheduling overhead) while real queries slow
    # down, so cal-unit ratios explode — an 8-core run against the
    # 32-core baseline produced 45 bogus "regressions" exactly this way.
    # Skip the comparison entirely on a mismatched run and
    # say so in the output instead of emitting noise.
    base_cpus = baseline[2]
    if base_cpus is not None and cpus != base_cpus:
        regressions = {}
        detail["vs_baseline_skipped"] = (
            f"cpus={cpus} != baseline cpus={base_cpus} — calibration "
            "ratios are not comparable across core counts"
        )
    else:
        regressions = _regressions(timings, calibration, baseline)
        vs = _vs_baseline(timings, calibration, baseline)
        if vs:
            detail["vs_baseline"] = vs
    if leaked:
        detail["leaked_persists"] = leaked
        print(f"PERSISTENT RDDs leaked after: {leaked}", file=sys.stderr)
    if regressions:
        detail["regressions"] = regressions
        print(f"REGRESSION vs BENCH_BASELINE.json: {regressions}", file=sys.stderr)
    # Per-query maps go FIRST on stdout and to BENCH_DETAIL.json; the
    # LAST stdout line is a compact machine JSON: the driver records
    # only a 2,000-byte stdout tail, and the full 75-query map alone is
    # >2 KB, so a single fat line loses the parse.
    print(json.dumps(detail))
    # stdout is the contract, the file a convenience: a failed write
    # (read-only checkout, disk-full) must not abort before the
    # driver-parseable LAST line is printed
    try:
        detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"BENCH_DETAIL.json not written: {exc}", file=sys.stderr)
    print(json.dumps(_compact_line(detail)))
    if regressions and "--check" in sys.argv:
        sys.exit(1)


def _compact_line(detail: dict) -> dict:
    """The driver-facing summary LAST line. tests/test_bench_contract.py
    pins this line's serialized size under the driver's 2,000-byte tail
    even at worst-case field widths, so BENCH_QUERIES growth can't
    re-break the driver's parse.

    Per-query seconds (a last line without a "queries" map leaves the
    driver no per-query rows to compare): the FULL
    95-entry map cannot fit — its names alone serialize past 1,850
    bytes — so the line carries the most-expensive-first prefix that
    fits the byte budget, with "queries_omitted" counting the cut
    (every omitted row is cheaper than every kept one, and the full map
    is the preceding stdout line + BENCH_DETAIL.json). Most-expensive-
    first is the informative order: the omitted tail is sub-second
    rows whose round-over-round deltas are noise at this harness's
    ±0.2 s amplitude anyway."""
    out = {k: v for k, v in detail.items() if k != "queries"}
    out["n_queries"] = len(detail["queries"])
    out["queries_detail"] = "BENCH_DETAIL.json"
    vs = out.get("vs_baseline")
    if vs:
        out["vs_baseline"] = {k: v for k, v in vs.items() if k != "per_query"}
    regs = out.get("regressions")
    if regs and len(regs) > 5:
        # truncated gate verdict stays parseable; full text in detail.
        # _regressions emits worst-magnitude-first insertion order, so
        # keeping the first 5 keeps the worst offenders.
        out["regressions"] = dict(list(regs.items())[:5])
        out["regressions_truncated"] = len(regs) - 5
    leaked = out.get("leaked_persists")
    if leaked and len(leaked) > 5:
        # a mass persist leak must not push the line past the tail
        # exactly when its diagnostics are needed
        out["leaked_persists"] = sorted(leaked)[:5]
        out["leaked_truncated"] = len(leaked) - 5
    # greedy budget fill AFTER every other field is final: kept entries
    # are exact (name, median seconds) pairs in descending-cost order,
    # name tiebreak for determinism
    ranked = sorted(detail["queries"].items(), key=lambda kv: (-kv[1], kv[0]))
    kept: dict[str, float] = {}
    out["queries"] = kept
    out["queries_omitted"] = len(ranked)
    for name, sec in ranked:
        kept[name] = sec
        out["queries_omitted"] = len(ranked) - len(kept)
        if len(json.dumps(out).encode()) >= SIZE_BUDGET:
            del kept[name]
            out["queries_omitted"] = len(ranked) - len(kept)
            break
    if not out["queries_omitted"]:
        del out["queries_omitted"]
    return out


# Byte ceiling for the LAST stdout line (the driver keeps a 2,000-byte
# stdout tail and parses the last line; 200 bytes of headroom for the
# trailing newline and driver-side framing). The per-query budget fill
# in _compact_line stops just under this.
SIZE_BUDGET = 1800

REGRESSION_FACTOR = 1.5
# Below this, medians are dominated by JVM noise: observed run-to-run
# amplitude on this harness is ~±0.2 s, so a 0.3 s query flaps the
# 1.5x threshold without any code change.
MIN_BASELINE_S = 0.5


def _load_baseline(sf: str) -> tuple[dict[str, float], float | None, int | None]:
    """(queries, calibration_sec, cpus) from BENCH_BASELINE.json for
    this sf, or ({}, None, None) when absent/mismatched. ``cpus`` is
    the core count the baseline was recorded at (top-level field of
    the frozen record); callers use it to suppress the guardrail on
    runs at a different count."""
    base_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json")
    if not os.path.isfile(base_path):
        return {}, None, None
    try:
        with open(base_path) as f:
            doc = json.load(f)
        parsed = doc.get("parsed", doc)
        if str(parsed.get("sf")) != sf:
            return {}, None, None
        return (
            parsed.get("queries", {}),
            parsed.get("calibration_sec"),
            doc.get("cpus", parsed.get("cpus")),
        )
    except (json.JSONDecodeError, AttributeError):
        return {}, None, None


def _vs_baseline(
    timings: dict[str, float],
    calibration: float,
    loaded: "tuple[dict[str, float], float | None]",
) -> dict:
    """Per-query raw and calibration-normalized ratios vs the frozen
    baseline, emitted IN the bench JSON so drift is auto-annotated
    instead of re-derived by hand after each run. raw =
    t/b; norm = (t/cal)/(b/base_cal) — the box-independent accounting
    the regression gate uses. Informational only: the gate's verdict
    stays in 'regressions'."""
    import math

    baseline, base_cal = loaded[0], loaded[1]
    if not baseline:
        return {}
    per_query = {}
    log_norm_sum = 0.0
    for name, t in timings.items():
        b = baseline.get(name)
        if not b:
            continue
        # clamp: a fast query whose median rounds to 0.0 would yield a
        # zero ratio and math.log would abort the whole bench output
        raw = max(t, 0.01) / max(b, 0.01)
        norm = (
            (max(t, 0.01) / calibration) / (max(b, 0.01) / base_cal)
            if base_cal and calibration
            else raw
        )
        per_query[name] = {"raw": round(raw, 3), "norm": round(norm, 3)}
        log_norm_sum += math.log(norm)
    if not per_query:
        return {}
    worst = max(per_query, key=lambda n: per_query[n]["norm"])
    common_total = sum(timings[n] for n in per_query)
    base_total = sum(baseline[n] for n in per_query)
    return {
        "common_queries": len(per_query),
        "raw_total_ratio": round(common_total / base_total, 3),
        "norm_geomean": round(math.exp(log_norm_sum / len(per_query)), 3),
        "worst": {"name": worst, **per_query[worst]},
        "per_query": per_query,
    }


def _regressions(
    timings: dict[str, float],
    calibration: float,
    loaded: "tuple[dict[str, float], float | None]",
) -> dict[str, str]:
    baseline, base_cal = loaded[0], loaded[1]
    if not baseline:
        return {}
    out = {}
    for name, t in timings.items():
        b = baseline.get(name)
        if not b or b < MIN_BASELINE_S:
            continue
        if base_cal and calibration > 0:
            # A query is a regression only if it regressed under BOTH
            # accountings: raw seconds AND seconds-per-calibration-
            # second. A genuine code regression inflates both; a
            # slower box inflates only raw, a calibration that caught
            # an unrepresentative moment inflates only normalized —
            # either alone flaps on sub-second queries whose noise
            # amplitude is ~±0.2 s. The raw condition only applies
            # when this box is comparable to the baseline's
            # (calibrations within 1.5x): on a much FASTER box raw
            # seconds can never exceed 1.5x the baseline even for a
            # real slowdown, which would mask exactly the cross-
            # machine case the normalization exists for — there, the
            # normalized ratio alone decides.
            # Known blind spot of the 1.5x cliff, accepted: on a box
            # up to 1.5x faster, a real regression up to ~2.25x
            # normalized can hide under the raw bar. Scaling the raw
            # threshold by the calibration ratio would close it — but
            # also reduce to norm-only on ANY faster box, which is
            # the false-positive storm a non-representative baseline
            # calibration once produced (57 flags on unchanged
            # code). With a representative baseline the ratio stays
            # near 1 and the dual gate does its job.
            ratio_now, ratio_base = t / calibration, b / base_cal
            comparable_box = max(calibration, base_cal) / min(calibration, base_cal) <= 1.5
            raw_ok = t > REGRESSION_FACTOR * b or not comparable_box
            if ratio_now > REGRESSION_FACTOR * ratio_base and raw_ok:
                out[name] = (
                    ratio_now / ratio_base,
                    f"{ratio_now:.2f} vs baseline {ratio_base:.2f} cal-units "
                    f"({ratio_now / ratio_base:.2f}x; raw {t:.3f}s vs {b:.3f}s)",
                )
        elif t > REGRESSION_FACTOR * b:
            out[name] = (t / b, f"{t:.3f}s vs baseline {b:.3f}s ({t / b:.2f}x)")
    # worst first (name tiebreak for determinism): _compact_line keeps
    # the FIRST five, so truncation can never drop the worst offender
    return {
        name: msg
        for name, (mag, msg) in sorted(out.items(), key=lambda kv: (-kv[1][0], kv[0]))
    }


if __name__ == "__main__":
    main()
