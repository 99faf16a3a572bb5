"""Seeded convention-fuzz sweep: Spark vs DuckDB over generated
filter × group-key × window-width × aggregate combinations on the
``events`` table, plus a join-shaped sweep over
orders⋈lineitem / customer⋈orders that drives the same conventions
through shuffle joins with keys drawn from both sides, plus a
window-function sweep (row_number/rank/lag/running frames) that pins
the total-order-tiebreak and integer-frame-sum conventions, plus a
grouping-sets sweep (CUBE/ROLLUP/GROUPING SETS) that pins the
grouping_id ↔ GROUPING bit-order and NULL-cell conventions, plus a
KMV-sketch sweep (r13) that drives the md5-prefix hash, per-set
k-minima window and integer-division estimator — the full sketch
pipeline the registered KMV rows replicate — through generated
set/value/k combinations, with a coverage assert that both the
exact-below-k and estimator branches execute, plus a DQ-audit sweep
(r13) that compiles random expectation sets over four tables through
run_expectations and a hand-assembled DuckDB twin, pinning the audit's
single-round(6)-ratio, NULL-bound and accepted-set conventions, plus a
z-order sweep (r13) that renders the full bounds→scale→bit-interleave→
bucket pipeline into both dialects across generated (columns, bits,
buckets) combinations — the shift/mask convention class
(shiftleft/shiftright/& ↔ <</>>/&) the one registered zorder_layout
row pins only at a single shape.

The hand-written oracle queries each pin ONE use of the cross-engine
conventions (epoch-second BIGINTs, floor-half-up rounding, the
md5-prefix token hash, squared-mix parity, `` div `` ↔ `` // `` —
memory: oracle-determinism-rules). This sweep renders the SAME
generated query text into both dialects and compares at driver
strictness, so a convention that drifts in an expression shape no
hand-written query exercises (hash-bucket group keys under filters,
windows composed with modular keys, rounding on filtered sums...)
fails here first. Deterministic: seeded PRNG, no time/random at
module import beyond the fixed seed.
"""

from __future__ import annotations

import random
import re

import pytest

from flink_kafka_spark.tables import register_views
from tests.conftest import SF_DIR
from tests.oracle_util import compare_spark_duckdb

N_QUERIES = 20
SEED = 0xF12D


# --- dialect rendering -------------------------------------------------
# Templates hold placeholder tokens; each dialect substitutes its own
# spelling. Every substitution pair is one convention from
# oracle-determinism-rules; the generated SQL is otherwise identical.

_DIALECT = {
    "spark": {
        "{EPOCH}": "unix_seconds(ts)",
        "{IDIV}": " div ",
        # md5-prefix token hash (non-negative, < 2^32)
        "{H8_OPEN}": "cast(conv(substr(md5(",
        "{H8_CLOSE}": "),1,8),16,10) as bigint)",
        "{STR}": "STRING",
        # bit interleave: shiftleft(shiftright(S, b) & 1, pos)
        "{SHR_OPEN}": "shiftleft(shiftright(",
        "{SHR_MID}": ", ",
        "{SHR_CLOSE}": ")",
        "{SHL_MID}": ", ",
        "{SHL_CLOSE}": ")",
    },
    "duckdb": {
        "{EPOCH}": "CAST(floor(epoch(ts)) AS BIGINT)",
        "{IDIV}": " // ",
        "{H8_OPEN}": "(('0x' || substr(md5(",
        "{H8_CLOSE}": "),1,8))::BIGINT)",
        "{STR}": "VARCHAR",
        # bit interleave: (((S >> b) & 1) << pos)
        "{SHR_OPEN}": "(((",
        "{SHR_MID}": " >> ",
        "{SHR_CLOSE}": ")",
        "{SHL_MID}": ") << ",
        "{SHL_CLOSE}": ")",
    },
}


def _render(template: str, dialect: str) -> str:
    out = template
    for token, spelling in _DIALECT[dialect].items():
        out = out.replace(token, spelling)
    # {EPOCH:col} — epoch-second BIGINT of an arbitrary timestamp col
    epoch = (
        "unix_seconds(\\1)"
        if dialect == "spark"
        else "CAST(floor(epoch(\\1)) AS BIGINT)"
    )
    out = re.sub(r"\{EPOCH:([\w.]+)\}", epoch, out)
    return out


# --- seeded query generator --------------------------------------------


def _assemble(from_clause, filters, groups, aggs, derived=()):
    """Shared query assembly for every sweep: inner grouped aggregate
    (count(*) AS n_rows always first), positional GROUP BY, outer
    projection of group aliases + agg aliases + derived columns."""
    group_select = ", ".join(f"{g} AS g{i}" for i, g in enumerate(groups))
    group_by = ", ".join(str(i + 1) for i in range(len(groups)))
    where = (" WHERE " + " AND ".join(filters)) if filters else ""
    inner_aggs = ", ".join(["count(*) AS n_rows"] + list(aggs))
    outer_cols = ", ".join(
        [f"g{i}" for i in range(len(groups))]
        + ["n_rows"]
        + [a.rsplit(" AS ", 1)[1] for a in aggs]
        + list(derived)
    )
    return (
        f"WITH g AS (SELECT {group_select}, {inner_aggs} "
        f"FROM {from_clause}{where} GROUP BY {group_by}) "
        f"SELECT {outer_cols} FROM g"
    )


def _gen_spec(rng: random.Random) -> str:
    """One generated query as a dialect-token template."""
    filters = rng.choice(
        [
            [],
            [f"value > {rng.randint(0, 1800) / 10}"],
            ["event_type IN ('" + "', '".join(rng.sample(["pv", "click", "purchase", "signup", "error"], rng.randint(1, 4))) + "')"],
            [f"user_id % {rng.randint(2, 9)} = {rng.randint(0, 1)}"],
            [
                f"value > {rng.randint(0, 900) / 10}",
                f"user_id % {rng.randint(2, 5)} = 0",
            ],
        ]
    )
    w = rng.choice([60, 300, 900, 3600, 7200])
    group_pool = [
        "event_type",
        f"user_id % {rng.randint(2, 7)}",
        # md5-prefix hash bucket of a composite token
        "{H8_OPEN}concat(event_type, '|', CAST(user_id AS {STR})){H8_CLOSE}"
        f" % {rng.choice([8, 16])}",
        # squared-mix parity (quadratic residues, integer-exact)
        f"((user_id * user_id) % {rng.choice([10007, 4099])}) % 2",
        # tumbling window start as epoch-second BIGINT
        "({EPOCH}{IDIV}" + str(w) + ") * " + str(w),
    ]
    groups = rng.sample(group_pool, rng.randint(1, 2))
    agg_pool = [
        # outer BIGINT cast: DuckDB sum(BIGINT) widens to HUGEINT,
        # which pandas renders float64 and the driver hash rejects
        "CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_value_e4",
        "count(DISTINCT user_id) AS n_users",
        "min(value) AS min_value",
        "max(value) AS max_value",
    ]
    aggs = rng.sample(agg_pool, rng.randint(1, 3))
    derived = []
    if any("sum_value_e4" in a for a in aggs):
        # terminal float division of identical integers — deterministic
        derived.append("CAST(sum_value_e4 AS DOUBLE) / 10000 AS sum_value")
        if rng.random() < 0.5:
            # floor-half-up average from the integer sum (never a
            # float aggregate: summation order must not matter)
            derived.append(
                "CAST(floor(CAST(sum_value_e4 AS DOUBLE) / n_rows / 100 + 0.5)"
                " AS BIGINT) AS avg_value_e2"
            )
    return _assemble("events", filters, groups, aggs, derived)


def _gen_join_spec(rng: random.Random) -> str:
    """One generated JOIN query (orders⋈lineitem or customer⋈orders):
    the same conventions exercised across a shuffle join — group keys,
    hash buckets and windows built from columns of BOTH sides."""
    if rng.random() < 0.5:
        join = "orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
        filter_pool = [
            [],
            [f"l.l_quantity > {rng.randint(5, 40)}"],
            ["o.o_orderstatus IN ('" + "', '".join(rng.sample(["F", "O", "P"], rng.randint(1, 2))) + "')"],
            [f"l.l_discount > {rng.randint(0, 8) / 100}"],
        ]
        group_pool = [
            "o.o_orderpriority",
            "l.l_returnflag",
            "{H8_OPEN}concat(o.o_orderstatus, '|', l.l_linestatus){H8_CLOSE}"
            f" % {rng.choice([4, 8])}",
            f"((o.o_custkey * o.o_custkey) % {rng.choice([10007, 4099])}) % 2",
            "({EPOCH:o.o_orderdate}{IDIV}" + "{W}) * {W}",
        ]
        agg_pool = [
            "CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT) AS sum_price_e2",
            "count(DISTINCT o.o_custkey) AS n_cust",
            "min(l.l_quantity) AS min_qty",
            "max(l.l_quantity) AS max_qty",
        ]
    else:
        join = "customer c JOIN orders o ON c.c_custkey = o.o_custkey"
        filter_pool = [
            [],
            [f"o.o_totalprice > {rng.randint(100, 2000)}"],
            ["c.c_mktsegment IN ('" + "', '".join(rng.sample(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], rng.randint(1, 3))) + "')"],
            [f"c.c_nationkey % {rng.randint(2, 5)} = 0"],
        ]
        group_pool = [
            "c.c_mktsegment",
            "o.o_orderpriority",
            "{H8_OPEN}concat(c.c_mktsegment, '|', CAST(c.c_nationkey AS {STR}))"
            "{H8_CLOSE}" + f" % {rng.choice([8, 16])}",
            f"((o.o_orderkey * o.o_orderkey) % {rng.choice([10007, 4099])}) % 2",
            "({EPOCH:o.o_orderdate}{IDIV}" + "{W}) * {W}",
        ]
        agg_pool = [
            "CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT) AS sum_total_e2",
            "count(DISTINCT c.c_custkey) AS n_cust",
            "min(c.c_acctbal) AS min_bal",
            "max(o.o_totalprice) AS max_total",
        ]
    # day-to-month scale windows: o_orderdate spans years, not hours
    w = str(rng.choice([86400, 7 * 86400, 30 * 86400]))
    filters = rng.choice(filter_pool)
    groups = [g.replace("{W}", w) for g in rng.sample(group_pool, rng.randint(1, 2))]
    aggs = rng.sample(agg_pool, rng.randint(1, 3))
    return _assemble(join, filters, groups, aggs)


def _gen_window_spec(rng: random.Random) -> str:
    """One generated WINDOW-FUNCTION query over events: top-n per key
    and running/lag frames under the total-order tiebreak convention
    (every ORDER BY ends in the unique event_id, so rank and frame
    contents are engine-independent), with integer-unit running sums
    (BIGINT end-to-end — float frame sums would depend on within-frame
    order)."""
    pk = rng.choice(["event_type", f"user_id % {rng.randint(2, 6)}"])
    order = rng.choice(
        ["{EPOCH:ts}", "v_e2 DESC", "{EPOCH:ts} DESC, v_e2"]
    ) + ", event_id"
    filters = rng.choice(
        [
            "",
            f" WHERE value > {rng.randint(0, 120)}",
            f" WHERE user_id % {rng.randint(2, 4)} = 0",
        ]
    )
    n = rng.randint(2, 5)
    # order WITHOUT the unique tiebreak: rank() must agree on ties
    # (tied rows share a rank whatever within-tie order each engine
    # visits), which a total order would reduce to row_number
    tie_order = order.rsplit(", event_id", 1)[0]
    extra = rng.choice(
        [
            # running integer sum over the explicit total order
            f"CAST(sum(v_e2) OVER (PARTITION BY {pk} ORDER BY {order} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)",
            # event-time gap to the previous row in the same order
            f"{{EPOCH:ts}} - lag({{EPOCH:ts}}, 1, {{EPOCH:ts}}) OVER "
            f"(PARTITION BY {pk} ORDER BY {order})",
            # rank WITH ties under the tiebreak-free order
            f"CAST(rank() OVER (PARTITION BY {pk} ORDER BY {tie_order}) AS BIGINT)",
        ]
    )
    return (
        "WITH b AS (SELECT event_id, user_id, event_type, value, ts, "
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2 "
        f"FROM events{filters}) "
        f"SELECT event_id, g0, rn, x FROM (SELECT event_id, {pk} AS g0, "
        f"row_number() OVER (PARTITION BY {pk} ORDER BY {order}) AS rn, "
        f"{extra} AS x FROM b) t WHERE rn <= {n}"
    )


def _gen_cube_spec(rng: random.Random) -> str:
    """One generated multi-dimensional aggregate over events: CUBE /
    ROLLUP / explicit GROUPING SETS with the composite grouping marker
    ({GID:...} renders Spark's zero-arg grouping_id() vs DuckDB's
    explicit GROUPING(cols...) — same bit order by the grouping-column
    order convention orders_cube pins) and NULL group-key cells
    compared across engines."""
    g1 = rng.choice(["event_type", f"user_id % {rng.randint(2, 5)}"])
    w = rng.choice([3600, 86400])
    g2 = rng.choice(
        [f"user_id % {rng.randint(6, 9)}", "({EPOCH}{IDIV}" + str(w) + ") * " + str(w)]
    )
    shape = rng.choice(
        [
            f"CUBE({g1}, {g2})",
            f"ROLLUP({g1}, {g2})",
            f"GROUPING SETS (({g1}, {g2}), ({g1}), ())",
        ]
    )
    filters = rng.choice(["", f" WHERE value > {rng.randint(0, 100)}"])
    return (
        f"SELECT {g1} AS g0, {g2} AS g1, "
        f"{{GID:{g1}|{g2}}} AS gid, count(*) AS n_rows, "
        "CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_value_e4 "
        f"FROM events{filters} GROUP BY {shape}"
    )


def _render_gid(template: str, dialect: str) -> str:
    def repl(m: "re.Match[str]") -> str:
        if dialect == "spark":
            return "grouping_id()"
        return "GROUPING(" + m.group(1).replace("|", ", ") + ")"

    return re.sub(r"\{GID:([^{}]+)\}", repl, template)


def _gen_kmv_spec(rng: random.Random) -> str:
    """One generated KMV-sketch query: the full estimator pipeline —
    md5-prefix hash, per-set k-minima ROW_NUMBER window, exact-below-k
    / integer-division estimator branch — as ONE dialect-token
    template (r13: the sketch oracles became a registered family, so
    their conventions get the same fuzz the scalar ones have). k and
    the set/value expressions vary so both the exact (< k) and
    estimator (>= k) branches execute across the sweep."""
    k = rng.choice([16, 64, 128])
    set_pool = [
        "event_type",
        f"user_id % {rng.randint(2, 5)}",
        "{H8_OPEN}event_type{H8_CLOSE}" + f" % {rng.choice([2, 4])}",
    ]
    val_pool = [
        "CAST(user_id AS {STR})",
        "concat(event_type, ':', CAST(user_id AS {STR}))",
        "CAST(user_id AS {STR}) || ':' || CAST({EPOCH}{IDIV}86400 AS {STR})",
    ]
    s_expr = rng.choice(set_pool)
    v_expr = rng.choice(val_pool)
    where = rng.choice(["", f" WHERE value > {rng.randint(0, 120) / 10}"])
    space = 4294967296  # 2^32 md5-prefix hash space
    return (
        f"WITH vals AS (SELECT DISTINCT {s_expr} AS s, {v_expr} AS v"
        f" FROM events{where}), "
        "hashed AS (SELECT DISTINCT s, {H8_OPEN}v{H8_CLOSE} AS h FROM vals), "
        "kept AS (SELECT s, h FROM (SELECT s, h,"
        " ROW_NUMBER() OVER (PARTITION BY s ORDER BY h) AS rn FROM hashed) t"
        f" WHERE rn <= {k}), "
        "per_set AS (SELECT s, count(*) AS n_kept, max(h) AS h_max"
        " FROM kept GROUP BY 1) "
        f"SELECT s, CAST(n_kept AS BIGINT) AS n_kept,"
        f" CAST(CASE WHEN n_kept < {k} THEN n_kept"
        f" ELSE {(k - 1) * space}{{IDIV}}h_max END AS BIGINT) AS est"
        " FROM per_set"
    )


_RNG = random.Random(SEED)
SPECS = [_gen_spec(_RNG) for _ in range(N_QUERIES)]
N_JOIN_QUERIES = 10
_JRNG = random.Random(SEED + 1)
JOIN_SPECS = [_gen_join_spec(_JRNG) for _ in range(N_JOIN_QUERIES)]
N_WINDOW_QUERIES = 8
_WRNG = random.Random(SEED + 2)
WINDOW_SPECS = [_gen_window_spec(_WRNG) for _ in range(N_WINDOW_QUERIES)]
N_CUBE_QUERIES = 6
_CRNG = random.Random(SEED + 3)
CUBE_SPECS = [_gen_cube_spec(_CRNG) for _ in range(N_CUBE_QUERIES)]
N_KMV_QUERIES = 8
_KRNG = random.Random(SEED + 4)
KMV_SPECS = [_gen_kmv_spec(_KRNG) for _ in range(N_KMV_QUERIES)]


@pytest.mark.parametrize("idx", range(N_QUERIES))
def test_generated_query_matches_duckdb(spark, idx):
    template = SPECS[idx]
    register_views(spark, SF_DIR, ("events",))
    spark_df = spark.sql(_render(template, "spark"))
    compare_spark_duckdb(spark_df, _render(template, "duckdb"), SF_DIR)


@pytest.mark.parametrize("idx", range(N_JOIN_QUERIES))
def test_generated_join_query_matches_duckdb(spark, idx):
    template = JOIN_SPECS[idx]
    register_views(spark, SF_DIR, ("orders", "lineitem", "customer"))
    spark_df = spark.sql(_render(template, "spark"))
    compare_spark_duckdb(spark_df, _render(template, "duckdb"), SF_DIR)


@pytest.mark.parametrize("idx", range(N_WINDOW_QUERIES))
def test_generated_window_query_matches_duckdb(spark, idx):
    template = WINDOW_SPECS[idx]
    register_views(spark, SF_DIR, ("events",))
    spark_df = spark.sql(_render(template, "spark"))
    compare_spark_duckdb(spark_df, _render(template, "duckdb"), SF_DIR)


@pytest.mark.parametrize("idx", range(N_CUBE_QUERIES))
def test_generated_grouping_sets_query_matches_duckdb(spark, idx):
    template = CUBE_SPECS[idx]
    register_views(spark, SF_DIR, ("events",))
    spark_df = spark.sql(_render_gid(_render(template, "spark"), "spark"))
    compare_spark_duckdb(
        spark_df, _render_gid(_render(template, "duckdb"), "duckdb"), SF_DIR
    )


@pytest.mark.parametrize("idx", range(N_KMV_QUERIES))
def test_generated_kmv_sketch_query_matches_duckdb(spark, idx):
    template = KMV_SPECS[idx]
    register_views(spark, SF_DIR, ("events",))
    spark_df = spark.sql(_render(template, "spark"))
    compare_spark_duckdb(spark_df, _render(template, "duckdb"), SF_DIR)


def test_kmv_sweep_exercises_both_estimator_branches(spark):
    """The sweep is only as good as its coverage: assert the seeded
    specs collectively produce BOTH exact (n_kept < k) and estimated
    (n_kept = k) rows, so a regression in either branch has a test to
    fail."""
    register_views(spark, SF_DIR, ("events",))
    exact = estimated = 0
    for template in KMV_SPECS:
        for r in spark.sql(_render(template, "spark")).collect():
            if r["est"] == r["n_kept"]:
                exact += 1
            else:
                estimated += 1
    assert exact > 0 and estimated > 0, (exact, estimated)


# --- DQ expectation sweep (r13) ----------------------------------------
# The registered dq_expectations row pins ONE hand-picked check set over
# lineitem; this sweep generates random expectation sets over four
# tables and replays each through BOTH surfaces — the Python
# run_expectations compiler (stack pivot, shared-nn aggregation,
# bound/NULL logic) and a hand-assembled DuckDB twin — at driver
# strictness, so a drift in the audit's conventions (single round(6) on
# a bigint/bigint ratio, NULL-bound passed logic, accepted-set
# denominating on non-NULLs) fails in shapes the one registered row
# never exercises.

_DQ_TABLES = {
    "events": {
        "num": ["value", "user_id"],
        "cat": {"event_type": ["pv", "click", "buy", "cart", "fav", "zz"]},
        "key": ["event_id", "user_id"],
    },
    "lineitem": {
        "num": ["l_quantity", "l_discount", "l_extendedprice"],
        "cat": {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]},
        "key": ["l_orderkey", "l_partkey"],
    },
    "orders": {
        "num": ["o_totalprice"],
        "cat": {"o_orderstatus": ["F", "O", "P"]},
        "key": ["o_orderkey", "o_custkey"],
    },
    "documents": {
        "num": ["n_chars"],
        "cat": {"lang": ["en", "de", "fr", "zz"], "source": ["web", "wiki", "s1"]},
        "key": ["doc_id"],
    },
}


def _gen_dq_spec(rng: random.Random):
    """One generated audit: (table, group_col, checks) where each check
    is a plain tuple the test compiles into both surfaces; half the
    audits run GROUPED (the Deequ per-source shape) to drive the
    group_cols path at driver strictness."""
    table = rng.choice(sorted(_DQ_TABLES))
    meta = _DQ_TABLES[table]
    group_col = rng.choice([None, rng.choice(sorted(meta["cat"]))])
    checks, names = [], set()
    for _ in range(rng.randint(3, 6)):
        kind = rng.choice(["completeness", "uniqueness", "min", "max", "accepted"])
        if kind == "completeness":
            col = rng.choice(meta["num"] + list(meta["cat"]))
            check = ("completeness", col, None)
        elif kind == "uniqueness":
            check = ("uniqueness", rng.choice(meta["key"]), None)
        elif kind in ("min", "max"):
            col = rng.choice(meta["num"])
            check = (kind, col, round(rng.uniform(-10.0, 1000.0), 2))
        else:
            col = rng.choice(sorted(meta["cat"]))
            pool = meta["cat"][col]
            vals = tuple(sorted(rng.sample(pool, rng.randint(1, len(pool)))))
            check = ("accepted", col, vals)
        name = f"{check[0]}:{check[1]}"
        if name in names:
            continue
        names.add(name)
        checks.append(check)
    return table, group_col, checks


def _dq_oracle(table: str, group_col, checks) -> str:
    g_sel = f"{group_col}, " if group_col else ""
    g_by = f" GROUP BY {group_col}" if group_col else ""
    metric_sql, rows = [], []
    for i, (kind, col, arg) in enumerate(checks):
        if kind == "completeness":
            m = (f"round(CAST(count({col}) AS DOUBLE)"
                 f" / CAST(count(*) AS DOUBLE), 6)")
            lo, hi = "1.0", "1.0"
        elif kind == "uniqueness":
            m = (f"round(CAST(count(DISTINCT {col}) AS DOUBLE)"
                 f" / CAST(count(*) AS DOUBLE), 6)")
            lo, hi = "1.0", "1.0"
        elif kind == "min":
            m = f"round(CAST(min({col}) AS DOUBLE), 6)"
            lo, hi = repr(arg), "NULL"
        elif kind == "max":
            m = f"round(CAST(max({col}) AS DOUBLE), 6)"
            lo, hi = "NULL", repr(arg)
        else:
            vals = ", ".join(f"'{v}'" for v in arg)
            m = (f"round(CAST(count(CASE WHEN {col} IN ({vals}) THEN 1 END) AS DOUBLE)"
                 f" / CAST(count({col}) AS DOUBLE), 6)")
            lo, hi = "1.0", "1.0"
        metric_sql.append(f"{m} AS m{i}")
        rows.append(f"SELECT {g_sel}'{kind}:{col}', m{i}, {lo}, {hi} FROM m")
    cols = (f"{group_col}, " if group_col else "") + "check_name, metric, lo, hi"
    order = (f"{group_col}, " if group_col else "") + "check_name"
    return (
        f"WITH m AS (SELECT {g_sel}{', '.join(metric_sql)} FROM {table}{g_by}), "
        f"checks({cols}) AS ({' UNION ALL '.join(rows)}) "
        f"SELECT {g_sel}check_name, CAST(metric AS DOUBLE) AS metric,"
        " CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,"
        " CASE WHEN metric IS NULL THEN 0"
        " ELSE CAST(((lo IS NULL OR metric >= lo)"
        " AND (hi IS NULL OR metric <= hi)) AS INT) END AS passed"
        f" FROM checks ORDER BY {order}"
    )


N_DQ_QUERIES = 6
_DQRNG = random.Random(SEED + 5)
DQ_SPECS = [_gen_dq_spec(_DQRNG) for _ in range(N_DQ_QUERIES)]


@pytest.mark.parametrize("idx", range(N_DQ_QUERIES))
def test_generated_dq_audit_matches_duckdb(spark, idx):
    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.dq import (
        Expectation,
        accepted_values,
        completeness,
        max_value,
        min_value,
        run_expectations,
        uniqueness,
    )
    from flink_kafka_spark.tables import load

    table, group_col, checks = DQ_SPECS[idx]
    exps = []
    for kind, col, arg in checks:
        if kind == "completeness":
            exps.append(completeness(col))
        elif kind == "uniqueness":
            exps.append(uniqueness(F.col(col), col))
        elif kind == "min":
            exps.append(min_value(col, arg))
        elif kind == "max":
            exps.append(max_value(col, arg))
        else:
            exps.append(accepted_values(col, arg))
    groups = [group_col] if group_col else []
    df = run_expectations(
        load(spark, SF_DIR, table), exps, group_cols=groups
    ).orderBy(*groups, "check_name")
    compare_spark_duckdb(df, _dq_oracle(table, group_col, checks), SF_DIR)


def test_dq_sweep_exercises_pass_and_fail(spark):
    """Coverage assert: across the seeded audits both passed=1 and
    passed=0 rows occur, so the bound logic's both branches have a
    test to fail."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.dq import (
        accepted_values,
        completeness,
        max_value,
        min_value,
        run_expectations,
        uniqueness,
    )
    from flink_kafka_spark.tables import load

    outcomes = set()
    grouped = sum(1 for _, g, _ in DQ_SPECS if g)
    assert 0 < grouped < len(DQ_SPECS), "sweep must mix grouped+global audits"
    for table, _, checks in DQ_SPECS:
        exps = []
        for kind, col, arg in checks:
            exps.append(
                completeness(col) if kind == "completeness"
                else uniqueness(F.col(col), col) if kind == "uniqueness"
                else min_value(col, arg) if kind == "min"
                else max_value(col, arg) if kind == "max"
                else accepted_values(col, arg)
            )
        for r in run_expectations(load(spark, SF_DIR, table), exps).collect():
            outcomes.add(r["passed"])
    assert outcomes == {0, 1}, outcomes


# --- z-order interleave sweep (r13) --------------------------------------
# The bit-shift/mask interleave is a NEW convention class (Spark
# shiftleft/shiftright/& vs DuckDB <</>>/&, exact-BIGINT scaling by
# integer division against aggregate bounds); the one registered
# zorder_layout row pins a single (2 cols, 16 bits, orders) shape.
# This sweep generates (columns, bits, bucket-count) combinations over
# events/lineitem and renders the WHOLE pipeline — bounds, scaling,
# interleave, bucket agg — into both dialects.

_Z_TABLES = {
    "events": ["user_id", "event_id", "{EPOCH}{IDIV}86400"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}


def _gen_zorder_spec(rng: random.Random) -> str:
    table = rng.choice(sorted(_Z_TABLES))
    n_cols = rng.choice([2, 2, 3])
    cols = rng.sample(_Z_TABLES[table], n_cols)
    bits = rng.choice([6, 10, 16] if n_cols == 2 else [6, 10])
    n_buckets = rng.choice([16, 64])
    top = (1 << bits) - 1
    width = max((1 << (bits * n_cols)) // n_buckets, 1)
    aliases = [f"c{i}" for i in range(n_cols)]
    src = ", ".join(f"CAST({e} AS BIGINT) AS {a}" for e, a in zip(cols, aliases))
    bounds = ", ".join(
        f"min({a}) AS mn{i}, max({a}) AS mx{i}" for i, a in enumerate(aliases)
    )
    scaled = [
        f"(({a} - mn{i}) * {top}{{IDIV}}greatest(mx{i} - mn{i}, 1))"
        for i, a in enumerate(aliases)
    ]
    terms = " + ".join(
        "{SHR_OPEN}" + sc + "{SHR_MID}" + str(b) + "{SHR_CLOSE}"
        + " & 1" + "{SHL_MID}" + str(b * n_cols + c) + "{SHL_CLOSE}"
        for b in range(bits)
        for c, sc in enumerate(scaled)
    )
    mins = ", ".join(
        f"CAST(min({a}) AS BIGINT) AS min_{a}, CAST(max({a}) AS BIGINT) AS max_{a}"
        for a in aliases
    )
    return (
        f"WITH src AS (SELECT {src} FROM {table}), "
        f"b AS (SELECT {bounds} FROM src), "
        f"keyed AS (SELECT {', '.join(aliases)}, CAST({terms} AS BIGINT) AS zkey"
        " FROM src, b) "
        f"SELECT CAST(zkey{{IDIV}}{width} AS BIGINT) AS bucket, count(*) AS n_rows, {mins}"
        " FROM keyed GROUP BY 1 ORDER BY bucket"
    )


N_ZORDER_QUERIES = 5
_ZRNG = random.Random(SEED + 6)
ZORDER_SPECS = [_gen_zorder_spec(_ZRNG) for _ in range(N_ZORDER_QUERIES)]


@pytest.mark.parametrize("idx", range(N_ZORDER_QUERIES))
def test_generated_zorder_query_matches_duckdb(spark, idx):
    template = ZORDER_SPECS[idx]
    register_views(spark, SF_DIR, ("events", "lineitem"))
    spark_df = spark.sql(_render(template, "spark"))
    compare_spark_duckdb(spark_df, _render(template, "duckdb"), SF_DIR)
