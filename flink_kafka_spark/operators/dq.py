"""Declarative data-quality expectation suite — a one-pass audit in
the style of the public Deequ/Great Expectations model: the caller
declares WHAT must hold (completeness, key uniqueness, value ranges,
accepted-value sets) and the operator compiles every declared metric
into a SINGLE aggregation over the table, then pivots the 1-row
metrics frame into one (check, metric, lo, hi, passed) row per
expectation.

The reference has no audit surface (its quality gates are per-query
filters, e.g. UserBehavior 'pv' guards — HotItems.java:60); this is
an extension for the training-data-pipeline direction: before a 100 TB
corpus feeds a tokenizer run, the ingest contract (no NULL keys, no
duplicate (orderkey, linenumber), quantities in the documented domain)
must be CHECKED, not assumed.

Scale design (100 TB):

- ONE scan computes every metric — adding an expectation adds a column
  to the same physical aggregate, not a pass over the data. All plain
  metrics (counts, conditional counts, min/max) partial-aggregate
  map-side, so the shuffle is one row per task.
- `uniqueness` is the only expectation that genuinely needs a
  distinct — Spark plans the mixed distinct/plain aggregate as a
  two-phase expand over the key, the standard exact-distinct cost; at
  100 TB swap `approx_uniqueness` in (HLL++, no expand) when an exact
  key audit is not required.
- The metric→row pivot runs on a 1-row frame — driver-trivial by
  construction, never data-sized.

Determinism contract (the repo-wide oracle convention): every metric
is either an integer count, a min/max pick, or ONE bigint/bigint
division performed once on the final values — no float accumulation —
so Spark and DuckDB agree bit-for-bit before the terminal round(6).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """One declared check: ``metric`` is an AGGREGATE expression over
    the audited frame that must land in [lo, hi] (inclusive; None =
    unbounded on that side). ``metric`` must evaluate to DOUBLE."""

    name: str
    metric: Column
    lo: float | None = None
    hi: float | None = None


def _ratio(num: Column, den: Column) -> Column:
    # one bigint/bigint division, rounded once — engine-exact. A zero
    # denominator (empty frame / all-NULL column / empty group) yields
    # NULL, which run_expectations maps to passed=0 — the failing-check
    # report this gate exists for; the bare division would instead
    # throw DIVIDE_BY_ZERO under Spark's default ANSI mode and kill
    # the whole audit job (the streaming twin already guards b > 0)
    return F.round(
        F.when(den > 0, num.cast("double") / den.cast("double")), 6
    )


def completeness(col: str) -> Expectation:
    """Fraction of rows with ``col`` non-NULL (count(col)/count(*))."""
    return Expectation(
        f"completeness:{col}", _ratio(F.count(col), F.count(F.lit(1))), 1.0, 1.0
    )


def uniqueness(key: Column, label: str) -> Expectation:
    """count(DISTINCT key)/count(*) — 1.0 iff ``key`` is a key.
    The one expectation whose metric costs a distinct shuffle."""
    return Expectation(
        f"uniqueness:{label}", _ratio(F.count_distinct(key), F.count(F.lit(1))), 1.0, 1.0
    )


def approx_uniqueness(
    key: Column,
    label: str,
    rsd: float = 0.01,
    lo: float | None = None,
    hi: float | None = None,
) -> Expectation:
    """HLL++ uniqueness ratio — the 100 TB substitute for
    :func:`uniqueness`: no expand, partial-aggregates map-side. The
    bound must leave the ±rsd estimator band, so ``lo`` defaults to
    1 − 3·rsd (the documented key-check usage: an
    unbounded default made every approx-uniqueness gate a silent
    always-pass). Pass ``lo``/``hi`` explicitly for non-key ratios, or
    ``lo=None`` wrapped in an explicit :class:`Expectation` if an
    unbounded probe is genuinely wanted. NOT oracle-hashable (the
    estimate is engine-internal)."""
    if lo is None and hi is None:
        lo = round(1.0 - 3.0 * rsd, 6)
    return Expectation(
        f"approx_uniqueness:{label}",
        _ratio(F.approx_count_distinct(key, rsd), F.count(F.lit(1))),
        lo,
        hi,
    )


def min_value(col: str, lo: float) -> Expectation:
    return Expectation(f"min:{col}", F.round(F.min(col).cast("double"), 6), lo, None)


def max_value(col: str, hi: float) -> Expectation:
    return Expectation(f"max:{col}", F.round(F.max(col).cast("double"), 6), None, hi)


def accepted_values(col: str, values: tuple[str, ...]) -> Expectation:
    """Fraction of non-NULL values inside the accepted set (must be 1)."""
    inset = F.count(F.when(F.col(col).isin(*values), F.lit(1)))
    return Expectation(f"accepted:{col}", _ratio(inset, F.count(col)), 1.0, 1.0)


def run_expectations(
    df: DataFrame,
    checks: list[Expectation],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Evaluate every expectation in ONE aggregation pass.

    Returns (check_name, metric, lo, hi, passed) — passed ∈ {0, 1},
    bounds NULL where unbounded. With ``group_cols`` the audit runs
    PER GROUP (the Deequ grouped-metrics shape: "completeness per
    source", "ranges per shard-day") and the group columns lead the
    output — still one aggregation pass, now map-side-combined on the
    group key, with the stack pivot applied to each group's row; at
    100 TB the output is |groups|·|checks| rows, never data-sized.
    Without groups the frame is 1-row-sourced, so any downstream
    orderBy is free.
    """
    if not checks:
        raise ValueError("run_expectations: empty expectation list")
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate expectation names: {names}")
    aggs = [c.metric.alias(f"_m{i}") for i, c in enumerate(checks)]
    group_cols = list(group_cols or [])
    metrics = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)

    # ONE stack projection over the 1-row aggregate — a union of
    # per-check selects would plan the (table-sized) aggregate once
    # per branch; stack guarantees a single scan.
    def _bound(v: float | None) -> str:
        return "CAST(NULL AS DOUBLE)" if v is None else f"CAST({float(v)!r} AS DOUBLE)"

    def _name_lit(name: str) -> str:
        # Spark SQL string literals consume backslash escapes and
        # single quotes — regex-bearing check names (pattern:...) must
        # round-trip verbatim through the stack expression
        return "'" + name.replace("\\", "\\\\").replace("'", "''") + "'"

    cells = ", ".join(
        f"{_name_lit(c.name)},"
        f" CAST(_m{i} AS DOUBLE), {_bound(c.lo)}, {_bound(c.hi)}"
        for i, c in enumerate(checks)
    )
    stacked = metrics.select(
        *group_cols,
        F.expr(f"stack({len(checks)}, {cells}) AS (check_name, metric, lo, hi)"),
    )
    return stacked.select(
        *group_cols,
        "check_name",
        "metric",
        "lo",
        "hi",
        F.when(F.col("metric").isNull(), F.lit(0))
        .otherwise(
            (
                (F.col("lo").isNull() | (F.col("metric") >= F.col("lo")))
                & (F.col("hi").isNull() | (F.col("metric") <= F.col("hi")))
            ).cast("int")
        )
        .alias("passed"),
    )


def pattern_fraction(
    col: str, pattern: str, lo: float | None = 1.0, hi: float | None = 1.0
) -> Expectation:
    """Fraction of non-NULL values matching ``pattern`` (Java regex,
    `rlike` semantics — anchor explicitly for full-match checks). The
    format-contract expectation: ids, emails, locale tags. Default
    bounds demand every value matches."""
    m = F.count(F.when(F.col(col).rlike(pattern), F.lit(1)))
    return Expectation(f"pattern:{col}:{pattern}", _ratio(m, F.count(col)), lo, hi)


def quantile_between(
    col: str, q: float, lo: float | None = None, hi: float | None = None
) -> Expectation:
    """Bound on an approximate quantile of ``col`` (Spark native
    approx_percentile, Greenwald-Khanna accuracy 1/10000) — the tail
    contract a min/max pair cannot express ("p99 latency under X"
    tolerates outliers; max_value does not). Approximate ⇒ NOT
    oracle-hashable (same class as approx_uniqueness): bounds must
    leave the sketch's rank-error band. Still one column of the same
    single aggregation pass."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile must be in (0, 1), got {q}")
    m = F.expr(f"approx_percentile({col}, {q!r}, 10000)").cast("double")
    return Expectation(f"quantile{q:g}:{col}", F.round(m, 6), lo, hi)
