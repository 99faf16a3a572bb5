"""Crafted-fixture semantics tests for the round-9 additions:
grid resample + forward-fill, RANGE-interval moving aggregates,
first-arrival dedup (batch twin of dropDuplicatesWithinWatermark),
and BPE merge-candidate induction."""

from collections import Counter

import pytest

from pyspark.sql import functions as F


def _ts(s):
    return F.timestamp_seconds(F.lit(s)).cast("timestamp")


def test_resample_ffill_crafted(spark):
    """Known gaps: 0-filled counts, bucket means carried forward across
    the gap, gap distance in buckets, NULLs before a key's first
    observation (key b starts one bucket after key a)."""
    from flink_kafka_spark.operators.timeseries import resample_ffill

    base = 1_700_000_000 - (1_700_000_000 % 60)
    rows = [
        # key a: buckets 0 and 3 observed, 1-2 are a gap
        ("a", base + 5, 1.0),
        ("a", base + 20, 2.0),
        ("a", base + 3 * 60 + 1, 10.0),
        # key b: first appears in bucket 1
        ("b", base + 60 + 2, 4.0),
    ]
    df = spark.createDataFrame(rows, "key string, sec long, v double").select(
        "key", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    out = resample_ffill(df, "key", "ts", "v", 60)
    got = {
        (r["key"], r["bucket_s"]): (r["cnt"], r["bucket_avg"], r["filled_avg"], r["gap_buckets"])
        for r in out.collect()
    }
    # grid = global range buckets 0..3 for both keys
    assert len(got) == 8
    assert got[("a", base)] == (2, 1.5, 1.5, 0)
    assert got[("a", base + 60)] == (0, None, 1.5, 1)
    assert got[("a", base + 120)] == (0, None, 1.5, 2)
    assert got[("a", base + 180)] == (1, 10.0, 10.0, 0)
    # key b: leading bucket before first observation -> all-NULL fill
    assert got[("b", base)] == (0, None, None, None)
    assert got[("b", base + 60)] == (1, 4.0, 4.0, 0)
    assert got[("b", base + 120)] == (0, None, 4.0, 1)
    assert got[("b", base + 180)] == (0, None, 4.0, 2)


def test_moving_revenue_range_frame_is_gap_correct(spark):
    """The RANGE frame must exclude days older than 6 days by VALUE,
    not by row position: a sparse priority with orders on days 0, 2,
    and 20 gets a day-20 trailing sum of day-20 only — a ROWS 6
    PRECEDING frame would wrongly include days 0 and 2."""
    from flink_kafka_spark.queries.analytics import ORDERS_MOVING_SQL

    day = 86400
    rows = [
        (1, 10, "1-URGENT", 100.0, 0),
        (2, 11, "1-URGENT", 50.0, 2 * day),
        (3, 12, "1-URGENT", 7.0, 20 * day),
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderpriority string, o_totalprice double, sec long"
    ).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice",
        F.timestamp_seconds("sec").alias("o_orderdate"),
    ).createOrReplaceTempView("orders")
    got = {r["day_s"]: (r["rev_7d"], r["orders_7d"], r["days_present_7d"])
           for r in spark.sql(ORDERS_MOVING_SQL).collect()}
    assert got[0] == (100.0, 1, 1)
    assert got[2 * day] == (150.0, 2, 2)          # day 0 within 6-day range
    assert got[20 * day] == (7.0, 1, 1)           # days 0,2 aged out by value


def test_events_dedup_late_packed_min_decodes_first_arrival(spark):
    """The packed-BIGINT min must decode to the earliest (ts, event_id)
    arrival even when a later-delivered row has a smaller event_id."""
    from flink_kafka_spark.queries.streamlike import EVENTS_DEDUP_LATE_SQL

    t = 1_700_000_000
    rows = [
        (5, t + 10, 1, "click"),   # first by ts, larger id than the t+20 row
        (1, t + 20, 1, "click"),
        (9, t + 10, 1, "click"),   # ts tie -> smaller event_id 5 wins
        (2, t + 99, 2, "view"),
    ]
    spark.createDataFrame(rows, "event_id long, sec long, user_id long, event_type string").select(
        "event_id", F.timestamp_seconds("sec").alias("ts"), "user_id", "event_type"
    ).createOrReplaceTempView("events")
    got = {(r["user_id"], r["event_type"]): (r["first_ts_s"], r["first_event_id"], r["arrivals"], r["span_s"])
           for r in spark.sql(EVENTS_DEDUP_LATE_SQL).collect()}
    assert got[(1, "click")] == (t + 10, 5, 3, 10)
    assert got[(2, "view")] == (t + 99, 2, 1, 0)


def test_dedup_stream_parity_with_batch_twin(spark, tmp_path):
    """dropDuplicatesWithinWatermark keyed on (user_id, event_type)
    keeps exactly the batch twin's first-arrival rows (fixture arrival
    order == (ts, event_id) order, so both tie-breaks agree)."""
    import pyspark.sql.types as T

    from flink_kafka_spark.queries.streamlike import EVENTS_DEDUP_LATE_SQL
    from flink_kafka_spark.schemas import parse_csv_lines
    from flink_kafka_spark.streaming.jobs import dedup_stream

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    t = 1_700_000_000
    rows = [
        (1, 1, "click", t + 1),
        (2, 1, "click", t + 5),    # re-delivery -> dropped
        (3, 2, "click", t + 6),
        (4, 1, "view", t + 7),
        (5, 2, "click", t + 9),    # re-delivery -> dropped
    ]
    lines = [f"{e},{u},{ty},{s}" for e, u, ty, s in rows]
    p = tmp_path / "in"
    p.mkdir()
    (p / "part0.csv").write_text("\n".join(lines) + "\n")
    stream = parse_csv_lines(
        spark.readStream.text(str(p)), schema
    )
    q = (
        dedup_stream(stream, ["user_id", "event_type"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_late_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {(r.user_id, r.event_type, r.event_id)
            for r in spark.sql("SELECT user_id, event_type, event_id FROM dedup_late_out").collect()}

    spark.createDataFrame(rows, "event_id long, user_id long, event_type string, sec long").select(
        "event_id", "user_id", "event_type", F.timestamp_seconds("sec").alias("ts")
    ).createOrReplaceTempView("events")
    batch = {(r["user_id"], r["event_type"], r["first_event_id"])
             for r in spark.sql(EVENTS_DEDUP_LATE_SQL).collect()}
    assert kept == batch == {(1, "click", 1), (2, "click", 3), (1, "view", 4)}


def test_bpe_pairs_match_python(spark):
    """Vocab-bounded pair explode == naive per-occurrence Python count
    (weighting by word frequency must equal counting every occurrence),
    rank tie-break by pair string."""
    from flink_kafka_spark.queries import textops

    docs = ["low low lower", "newest newest wide", "a low"]
    expected = Counter()
    for d in docs:
        for w in d.split(" "):
            if len(w) >= 2:
                for i in range(len(w) - 1):
                    expected[w[i : i + 2]] += 1

    spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    ).createOrReplaceTempView("documents")

    orig = textops.load  # textops imports the symbol, patch it there
    try:
        textops.load = lambda s, _dir, name: s.table(name)
        out = textops.bpe_merge_candidates(spark, "ignored").collect()
    finally:
        textops.load = orig
    got = {r["pair"]: r["freq"] for r in out}
    assert got == dict(expected)
    ranked = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [(r["rank"], r["pair"]) for r in sorted(out, key=lambda r: r["rank"])] == [
        (i + 1, p) for i, (p, _) in enumerate(ranked)
    ]


def test_orders_cube_contains_all_marginals(spark):
    """CUBE must emit cell, both one-way marginals, and the grand
    total, with grouping ids distinguishing real NULL-less groups."""
    from flink_kafka_spark.queries import tpch

    rows = [
        (1, "F", 10.0, 1_000_000_000),   # 2001
        (2, "O", 20.0, 1_000_000_000),
        (3, "F", 5.0, 1_100_000_000),    # 2004
    ]
    view = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double, sec long"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice",
             F.timestamp_seconds("sec").alias("o_orderdate"))
    orig = tpch.load
    try:
        tpch.load = lambda s, _d, name: view
        out = tpch.orders_cube(spark, "ignored").collect()
    finally:
        tpch.load = orig
    got = {(r["order_year"], r["o_orderstatus"]): (r["n_orders"], r["total_price"], r["gid"])
           for r in out}
    assert got[(2001, "F")] == (1, 10.0, 0)
    assert got[(2001, None)] == (2, 30.0, 1)      # year marginal
    assert got[(None, "F")] == (2, 15.0, 2)       # status marginal
    assert got[(None, None)] == (3, 35.0, 3)      # grand total
    assert len(got) == 8  # 3 cells + 2 year + 2 status marginals + total


def test_fk_audit_counts_planted_orphans(spark):
    """Two lineitem rows referencing a missing order must count as
    orphans on the lineitem->orders edge only."""
    from flink_kafka_spark.queries import tpch

    frames = {
        "lineitem": spark.createDataFrame(
            [(1, 100), (1, 100), (2, 101), (99, 100), (99, 100)],
            "l_orderkey long, l_partkey long",
        ),
        "orders": spark.createDataFrame([(1, 7), (2, 7)], "o_orderkey long, o_custkey long"),
        "part": spark.createDataFrame([(100,), (101,)], "p_partkey long"),
        "customer": spark.createDataFrame([(7, 3)], "c_custkey long, c_nationkey long"),
        "nation": spark.createDataFrame([(3,)], "n_nationkey long"),
    }
    orig = tpch.load
    try:
        tpch.load = lambda s, _d, name: frames[name]
        out = {r["edge"]: (r["child_rows"], r["child_keys"], r["matched_rows"], r["orphan_rows"])
               for r in tpch.fk_coverage_audit(spark, "ignored").collect()}
    finally:
        tpch.load = orig
    assert out["lineitem->orders"] == (5, 3, 3, 2)
    assert out["lineitem->part"] == (5, 2, 5, 0)
    assert out["orders->customer"] == (2, 1, 2, 0)
    assert out["customer->nation"] == (1, 1, 1, 0)


def test_session_window_native_boundary_is_inclusive(spark):
    """session_window MERGES windows that touch: a gap of exactly the
    timeout stays one session (break is `diff > gap` — the same
    grouping sessionize's islands use), a gap of timeout+1 breaks.
    Also pins start/end arithmetic (end = last event + gap) and
    grouping parity with the lag+cumsum sessionize plan."""
    from flink_kafka_spark.queries import patterns

    t = 1_700_000_000
    rows = [(1, t), (1, t + 1800), (2, t), (2, t + 1801)]
    view = spark.createDataFrame(rows, "user_id long, sec long").select(
        "user_id", F.timestamp_seconds("sec").alias("ts"),
        F.lit(0).cast("long").alias("event_id"),
    )
    orig = patterns.load
    try:
        patterns.load = lambda s, _d, name: view
        native = patterns.session_windows_native(spark, "ignored").collect()
    finally:
        patterns.load = orig
    nat = {(r["user_id"], r["session_start_s"]): (r["session_end_s"], r["n_events"])
           for r in native}
    # user 1: exact-timeout gap -> windows touch -> ONE merged session
    assert nat[(1, t)] == (t + 1800 + 1800, 2)
    # user 2: timeout+1 gap -> break into two sessions
    assert nat[(2, t)] == (t + 1800, 1)
    assert nat[(2, t + 1801)] == (t + 1801 + 1800, 1)
    # grouping parity with the legacy islands plan (same break rule)
    view.createOrReplaceTempView("events")
    legacy = {(r["user_id"], r["session_id"]): r["n_events"]
              for r in spark.sql(patterns.SESSIONIZE_SQL).collect()}
    assert legacy[(1, 1)] == 2 and legacy[(2, 1)] == 1 and legacy[(2, 2)] == 1


def test_dedup_late_packing_bound_holds():
    """events_dedup_late packs (ts_s, event_id) as ts_s*1e9 + event_id;
    the min only orders correctly while event_id < 1e9 (and ts_s <
    ~9.2e9 for BIGINT headroom). The oracle shares the expression, so
    a fixture/generator drift past the bound would be silently wrong —
    guard it loudly here (the r8 ASCII-guard precedent)."""
    import os

    import duckdb

    con = duckdb.connect()
    checked = 0
    for sf in ("0.001", "0.01", "0.1"):
        d = f"/root/testdata/sf{sf}/events.parquet"
        if not os.path.exists(d):
            continue
        checked += 1
        lo, hi, tmin, tmax = con.execute(
            f"SELECT min(event_id), max(event_id),"
            f" min(epoch(ts)), max(epoch(ts)) FROM '{d}'"
        ).fetchone()
        assert lo >= 0 and hi < 1_000_000_000, (sf, lo, hi)
        # negative packed values would also diverge across engines:
        # Spark `div` truncates toward zero, DuckDB `//` floors
        assert 0 <= tmin and tmax < 9_200_000_000, (sf, tmin, tmax)
    assert checked, "no testdata fixture found — the guard checked nothing"


@pytest.mark.slow  # slow tier (r19): agg_incremental_update's full DuckDB oracle runs in the default sweep
def test_incremental_agg_handles_group_moves_adds_and_deletes(spark):
    """The fixture republish only edits text; this pins the cases it
    can't reach — an upsert MOVING an id between groups (subtract from
    the old group, add to the new), a brand-new id, and a delete —
    against a direct aggregate of the applied snapshot."""
    from flink_kafka_spark.operators.versioning import (
        apply_changes,
        changes_from_diff,
        incremental_agg_maintenance,
    )

    old = spark.createDataFrame(
        [(1, "aa", "s1"), (2, "bbb", "s1"), (3, "cccc", "s2")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [(1, "aa", "s2"),        # group move s1 -> s2, same text
         (2, "bb", "s1"),        # in-place edit
         (4, "dddd", "s1")],     # insert; id 3 deleted
        "doc_id long, text string, source string",
    )
    payload = ("text", "source")
    chars = F.length("text").cast("long").alias("chars")
    facts = old.select("doc_id", "source", chars)
    changes = changes_from_diff(old, new, content_cols=payload).select(
        "doc_id", "op", "source", chars
    )
    got = {
        r["source"]: (r["n_rows"], r["chars"])
        for r in incremental_agg_maintenance(
            facts, changes, "doc_id", ("source",), ("chars",)
        ).collect()
    }
    want = {
        r["source"]: (r["n_rows"], r["chars"])
        for r in apply_changes(
            old, changes_from_diff(old, new, content_cols=payload), content_cols=payload
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.sum(F.length("text")).cast("long").alias("chars"))
        .collect()
    }
    assert got == want == {"s1": (2, 6), "s2": (1, 2)}


def test_resample_interp_crafted(spark):
    """Linear blend on interior gaps (two-thirds of the way from 1.5
    to 10.5 across a 3-bucket gap), own mean on observed rows, NULL
    outside the key's observation span (no extrapolation)."""
    from flink_kafka_spark.operators.timeseries import resample_interp

    base = 1_700_000_000 - (1_700_000_000 % 60)
    rows = [
        ("a", base + 5, 1.0),
        ("a", base + 20, 2.0),          # bucket 0 mean 1.5
        ("a", base + 3 * 60 + 1, 10.5), # bucket 3
        ("b", base + 60 + 2, 4.0),      # key b spans only bucket 1
    ]
    df = spark.createDataFrame(rows, "key string, sec long, v double").select(
        "key", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    got = {
        (r["key"], r["bucket_s"]): (r["cnt"], r["interp_avg"])
        for r in resample_interp(df, "key", "ts", "v", 60).collect()
    }
    assert got[("a", base)] == (2, 1.5)
    assert got[("a", base + 60)] == (0, 4.5)    # 1.5 + (10.5-1.5)/3
    assert got[("a", base + 120)] == (0, 7.5)   # 1.5 + 2*(10.5-1.5)/3
    assert got[("a", base + 180)] == (1, 10.5)
    assert got[("b", base)] == (0, None)        # before first obs
    assert got[("b", base + 60)] == (1, 4.0)
    assert got[("b", base + 120)] == (0, None)  # after last obs
    assert got[("b", base + 180)] == (0, None)


def test_resample_interp_null_value_bucket_is_not_an_anchor(spark):
    """A bucket observed with only NULL values must be blended across
    like a gap — value and distance must come from the SAME pair of
    value-bearing anchors (buckets 0 and 4 here), not mix bucket 2's
    distance with bucket 0's value."""
    from flink_kafka_spark.operators.timeseries import resample_interp

    base = 1_700_000_000 - (1_700_000_000 % 60)
    rows = [
        ("a", base + 1, 10.0),
        ("a", base + 2 * 60, None),     # observed, all values NULL
        ("a", base + 4 * 60, 20.0),
    ]
    df = spark.createDataFrame(rows, "key string, sec long, v double").select(
        "key", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    got = {
        r["bucket_s"]: (r["cnt"], r["interp_avg"])
        for r in resample_interp(df, "key", "ts", "v", 60).collect()
    }
    assert got[base] == (1, 10.0)
    assert got[base + 60] == (0, 12.5)       # quarter of the 0->4 line
    assert got[base + 120] == (1, 15.0)      # cnt=1 but NULL avg -> midpoint
    assert got[base + 180] == (0, 17.5)
    assert got[base + 240] == (1, 20.0)


def test_key_skew_report_planted_hot_key_and_tie(spark):
    """Planted 3x hot key must dominate max_cnt/skew_ratio and win
    top_key; an exact count TIE must break by key string (the packed
    lexicographic max), not partition order."""
    from flink_kafka_spark.operators.windows import key_skew_report

    rows = [("u9", "x")] * 6 + [("u2", "y")] * 2 + [("u1", "y")] * 2
    df = spark.createDataFrame(rows, "k string, t string")
    r = key_skew_report(df, ["k", "t"]).collect()[0]
    assert (r["n_keys"], r["total_rows"], r["max_cnt"]) == (3, 10, 6)
    assert r["top_key"] == "u9\x1fx"
    # mean = 10/3, skew = 6 / (10/3) = 1.8
    assert r["skew_ratio"] == 1.8
    # remove the hot key: u2 and u1 tie at 2 -> larger string u2 wins
    r2 = key_skew_report(df.filter("k <> 'u9'"), ["k", "t"]).collect()[0]
    assert r2["max_cnt"] == 2 and r2["top_key"] == "u2\x1fy"
    assert r2["skew_ratio"] == 1.0


def test_resample_mixed_null_bucket_uses_nonnull_denominator(spark):
    """A bucket mixing NULL and non-null values must average over the
    non-null values only (conventional AVG): [2.0, NULL] -> cnt=2 but
    bucket_avg=2.0, not a deflated 1.0 (r9 advisory)."""
    from flink_kafka_spark.operators.timeseries import resample_ffill

    base = 1_700_000_000 - (1_700_000_000 % 60)
    rows = [
        ("a", base + 1, 2.0),
        ("a", base + 2, None),          # same bucket, NULL value
        ("a", base + 2 * 60, 5.0),
    ]
    df = spark.createDataFrame(rows, "key string, sec long, v double").select(
        "key", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    got = {
        r["bucket_s"]: (r["cnt"], r["bucket_avg"], r["filled_avg"])
        for r in resample_ffill(df, "key", "ts", "v", 60).collect()
    }
    assert got[base] == (2, 2.0, 2.0)
    assert got[base + 60] == (0, None, 2.0)
    assert got[base + 120] == (1, 5.0, 5.0)


def test_incremental_agg_multi_op_changelog_subtracts_once(spark):
    """A changelog carrying BOTH a delete and an upsert for the same id
    (not producible by changes_from_diff, but legal for the public
    operator) must subtract that id's old contribution exactly once —
    the r9 advisory's double-subtract case."""
    from flink_kafka_spark.operators.versioning import incremental_agg_maintenance

    facts = spark.createDataFrame(
        [(1, "s1", 10), (2, "s1", 7)], "doc_id long, source string, chars long"
    )
    changes = spark.createDataFrame(
        [(1, "delete", None, None), (1, "upsert", "s2", 4)],
        "doc_id long, op string, source string, chars long",
    )
    got = {
        r["source"]: (r["n_rows"], r["chars"])
        for r in incremental_agg_maintenance(
            facts, changes, "doc_id", ("source",), ("chars",)
        ).collect()
    }
    # id 1 leaves s1 once (delete+upsert collapse to one subtraction)
    # and lands in s2 with the upsert payload; id 2 is untouched.
    assert got == {"s1": (1, 7), "s2": (1, 4)}


def test_incremental_agg_multi_op_plus_side_applies_one_final_state(spark):
    """r10 second-review finding: the plus side must mirror the minus
    side's multi-op tolerance — each id contributes AT MOST ONE final
    state. Two upserts for one id must not double-add, and with an
    ordered log (seq_col) upsert-then-delete must REMOVE the id, not
    resurrect it."""
    from flink_kafka_spark.operators.versioning import incremental_agg_maintenance

    facts = spark.createDataFrame(
        [(1, "s1", 10), (2, "s1", 7)], "doc_id long, source string, chars long"
    )

    # contradictory double-upsert (no seq): exactly one payload lands
    # (the deterministic payload-max arbitration), never both
    dbl = spark.createDataFrame(
        [(1, "upsert", "s2", 4), (1, "upsert", "s3", 5)],
        "doc_id long, op string, source string, chars long",
    )
    got = {
        r["source"]: (r["n_rows"], r["chars"])
        for r in incremental_agg_maintenance(
            facts, dbl, "doc_id", ("source",), ("chars",)
        ).collect()
    }
    assert got == {"s1": (1, 7), "s3": (1, 5)}  # one landing spot, not two

    # ordered log: upsert(seq 1) then delete(seq 2) -> id 1 is GONE
    seqd = spark.createDataFrame(
        [(1, "upsert", "s2", 4, 1), (1, "delete", None, None, 2)],
        "doc_id long, op string, source string, chars long, seq long",
    )
    got = {
        r["source"]: (r["n_rows"], r["chars"])
        for r in incremental_agg_maintenance(
            facts, seqd, "doc_id", ("source",), ("chars",), seq_col="seq"
        ).collect()
    }
    assert got == {"s1": (1, 7)}

    # ordered log, reversed: delete(seq 1) then upsert(seq 2) -> lands
    seqd2 = spark.createDataFrame(
        [(1, "delete", None, None, 1), (1, "upsert", "s2", 4, 2)],
        "doc_id long, op string, source string, chars long, seq long",
    )
    got = {
        r["source"]: (r["n_rows"], r["chars"])
        for r in incremental_agg_maintenance(
            facts, seqd2, "doc_id", ("source",), ("chars",), seq_col="seq"
        ).collect()
    }
    assert got == {"s1": (1, 7), "s2": (1, 4)}


def test_resample_grid_join_is_hint_broadcast(spark):
    """The grid left join broadcasts the observed frame by hint, not by
    the planner's size estimate: it still plans a BroadcastHashJoin with
    auto-broadcast off (the observed side is bounded by the grid the
    caller chose, so the hint is unconditional)."""
    from flink_kafka_spark.operators.timeseries import resample_ffill

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0), (2, "2024-01-01 01:00:00", 2.0)],
        "k int, ts string, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "v")
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        out = resample_ffill(df, "k", "ts", "v", 300)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "BroadcastHashJoin" in plan
    assert len(out.collect()) == 2 * 13  # 2 keys x 13 five-minute buckets
