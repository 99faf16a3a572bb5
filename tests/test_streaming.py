"""Deterministic Structured Streaming tests: file-replay sources +
memory sinks + availableNow/processAllAvailable, per SURVEY.md §5's
test strategy (the reference itself has no tests — these encode its
README golden semantics on small crafted fixtures)."""

import os
from collections.abc import Callable
from typing import NamedTuple

import pytest
from pyspark.sql import functions as F

from flink_kafka_spark.schemas import (
    LOGIN_EVENT,
    ORDER_EVENT,
    RECEIPT_EVENT,
    USER_BEHAVIOR,
    parse_csv_lines,
)
from flink_kafka_spark.streaming import jobs
from flink_kafka_spark.streaming.jobs import hot_items_stream, rank_hot_items
from flink_kafka_spark.streaming.sources import csv_replay_source
from flink_kafka_spark.streaming.stateful import (
    login_fail_stream,
    order_timeout_stream,
    tx_match_stream,
)


def _run_stream(df, name, mode="append"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _run_stream_until(spark, df, name, min_rows, mode="append", timeout_s=60):
    """Continuous-trigger run: process all data, then let no-data
    micro-batches fire pending event-time timers until the memory sink
    holds ``min_rows`` (availableNow can terminate before a final
    no-data batch, leaving timers unfired)."""
    import time

    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if spark.sql(f"SELECT count(*) FROM {name}").first()[0] >= min_rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()


def _write_lines(path, lines, mtime=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    if mtime is not None:
        # FileStreamSource batches files in timestamp order; pin mtimes
        # so multi-batch replays are deterministic
        os.utime(path, (mtime, mtime))


# --- windowed agg parity: streaming result == batch result ---


def test_hot_items_stream_matches_batch(spark, tmp_path):
    # user_behavior rows: user,item,cat,behavior,ts(s) — ascending ts
    base = 1_700_000_000 - (1_700_000_000 % 3600)
    lines = []
    for i in range(200):
        item = 100 + (i % 3)
        lines.append(f"{i},{item},1,pv,{base + i * 30}")
    # far-future sentinel must PASS the pv filter: Catalyst pushes the
    # filter below the watermark collector, so filtered rows never
    # advance the watermark. Its own windows stay open (end > wm).
    sentinel_ts = base + 86400
    lines.append(f"9999,999,1,pv,{sentinel_ts}")
    _write_lines(str(tmp_path / "in" / "part0.csv"), lines)

    stream = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    _run_stream(hot_items_stream(stream), "hot_items_out")
    got = spark.sql("SELECT * FROM hot_items_out")

    batch_src = parse_csv_lines(
        spark.read.text(str(tmp_path / "in")), USER_BEHAVIOR
    )
    from flink_kafka_spark.operators.windows import windowed_count

    want = windowed_count(
        batch_src.filter(F.col("behavior") == "pv"), "ts", "1 hour", "5 minutes", ["item_id"]
    )
    # streaming append emits only windows closed by the final watermark
    wm_s = sentinel_ts - 1
    want = want.filter(F.col("window_end_s") <= wm_s)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # and the foreachBatch ranking finisher works on the emitted rows
    ranked = rank_hot_items(got, n=2)
    assert ranked.groupBy("window_start_s").count().agg(F.max("count")).first()[0] <= 2


# --- JSON-lines source parity: same events, either wire format ---


def test_json_lines_source_matches_csv_replay(spark, tmp_path):
    """The JSON-lines source (beyond the reference's CSV-only surface)
    must feed the SAME windowed job to the SAME result as the CSV
    replay of identical events — and a malformed line must degrade to
    NULL columns (dead-letterable), not fail the batch."""
    import json

    from flink_kafka_spark.streaming.sources import json_lines_source

    t0 = 1_511_658_000
    events = [
        (543462, 1715, 1464116, "pv", t0),
        (543462, 1715, 1464116, "pv", t0 + 60),
        (662867, 2244074, 1575622, "pv", t0 + 120),
        (662867, 2244074, 1575622, "buy", t0 + 150),
        # sentinel advances the final watermark past the first windows
        (1, 1, 1, "pv", t0 + 7200),
    ]
    keys = ("user_id", "item_id", "category_id", "behavior", "ts")
    _write_lines(
        str(tmp_path / "csv" / "b0.csv"),
        [",".join(str(v) for v in e) for e in events],
    )
    _write_lines(
        str(tmp_path / "json" / "b0.jsonl"),
        [json.dumps(dict(zip(keys, e))) for e in events] + ['{"not": "an event"'],
    )

    csv_stream = csv_replay_source(spark, str(tmp_path / "csv"), USER_BEHAVIOR)
    json_stream = json_lines_source(spark, str(tmp_path / "json"), USER_BEHAVIOR)
    # the malformed line parses to all-NULL columns; gate it like a
    # dead-letter route would, then run the identical windowed job
    json_stream = json_stream.filter(F.col("user_id").isNotNull())
    _run_stream(hot_items_stream(csv_stream), "jsrc_csv_out")
    _run_stream(hot_items_stream(json_stream), "jsrc_json_out")
    csv_rows = sorted(map(tuple, spark.sql("SELECT * FROM jsrc_csv_out").collect()))
    json_rows = sorted(map(tuple, spark.sql("SELECT * FROM jsrc_json_out").collect()))
    assert csv_rows == json_rows and csv_rows


# --- login-fail stateful detector (T1/T2) ---


def test_login_fail_stream(spark, tmp_path):
    t = 1_700_000_000
    lines = [
        # user 1: two fails 1s apart -> warning
        f"1,ip,fail,{t}",
        f"1,ip,fail,{t + 1}",
        # user 2: fail, success, fail -> no warning (reset)
        f"2,ip,fail,{t}",
        f"2,ip,success,{t + 1}",
        f"2,ip,fail,{t + 2}",
        # user 3: fails 5s apart -> no warning (gap > 2s)
        f"3,ip,fail,{t}",
        f"3,ip,fail,{t + 5}",
        # user 4: three consecutive fails 1s apart -> two warnings
        f"4,ip,fail,{t}",
        f"4,ip,fail,{t + 1}",
        f"4,ip,fail,{t + 2}",
    ]
    _write_lines(str(tmp_path / "in" / "part0.csv"), lines)
    stream = csv_replay_source(spark, str(tmp_path / "in"), LOGIN_EVENT).withWatermark(
        "ts", "3 seconds"
    )
    _run_stream(login_fail_stream(stream, max_gap_s=2), "login_out")
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM login_out").collect())
    )
    assert got == [
        (1, t, t + 1, "warning"),
        (4, t, t + 1, "warning"),
        (4, t + 1, t + 2, "warning"),
    ]


# --- order timeout stateful detector (T3/T4) with event-time timer ---


def test_order_timeout_stream(spark, tmp_path):
    t = 1_700_000_000
    # batch 1: order 1 create+pay (payed); order 2 create only (will time out);
    #          order 4 pay only (never created)
    _write_lines(
        str(tmp_path / "in" / "b1.csv"),
        [
            f"1,create,,{t}",
            f"1,pay,tx1,{t + 100}",
            f"2,create,,{t}",
            f"4,pay,tx4,{t + 10}",
        ],
        mtime=1_000_000,
    )
    # batch 2: far-future event advances the watermark past all timers
    _write_lines(
        str(tmp_path / "in" / "b2.csv"), [f"3,create,,{t + 10000}"], mtime=2_000_000
    )

    stream = csv_replay_source(
        spark, str(tmp_path / "in"), ORDER_EVENT, max_files_per_trigger=1
    ).withWatermark("ts", "0 seconds")
    _run_stream_until(spark, order_timeout_stream(stream, timeout_s=900), "orders_out", 3)
    got = sorted(map(tuple, spark.sql("SELECT * FROM orders_out").collect()))
    assert (1, t, t + 100, "payed") in got
    assert (2, t, None, "order timeout") in got
    assert (4, None, t + 10, "payed but not found created log") in got


# --- two-stream reconciliation (J2) ---


def test_tx_match_stream(spark, tmp_path):
    t = 1_700_000_000
    _write_lines(
        str(tmp_path / "orders" / "b1.csv"),
        [
            f"10,pay,txA,{t}",       # matched
            f"11,pay,txB,{t + 2}",   # unmatched pay
        ],
        mtime=1_000_000,
    )
    # sentinel must be a PAY row: creates are filtered out before the
    # watermark collector (predicate pushdown), so they don't advance it
    _write_lines(
        str(tmp_path / "orders" / "b2.csv"), [f"12,pay,txZ2,{t + 10000}"], mtime=2_000_000
    )
    _write_lines(
        str(tmp_path / "receipts" / "b1.csv"),
        [
            f"txA,wechat,{t + 1}",   # matches order 10
            f"txC,alipay,{t + 3}",   # unmatched receipt
        ],
        mtime=1_000_000,
    )
    _write_lines(
        str(tmp_path / "receipts" / "b2.csv"), [f"txZ,alipay,{t + 10000}"], mtime=2_000_000
    )

    orders = csv_replay_source(
        spark, str(tmp_path / "orders"), ORDER_EVENT, max_files_per_trigger=1
    ).withWatermark("ts", "0 seconds")
    receipts = csv_replay_source(
        spark, str(tmp_path / "receipts"), RECEIPT_EVENT, max_files_per_trigger=1
    ).withWatermark("ts", "0 seconds")
    _run_stream_until(spark, tx_match_stream(orders, receipts), "tx_out", 3)
    got = sorted(map(tuple, spark.sql("SELECT * FROM tx_out").collect()))
    assert ("txA", t, t + 1, "matched") in got
    assert ("txB", t + 2, None, "unmatched_pay") in got
    assert ("txC", None, t + 3, "unmatched_receipt") in got


# --- streaming exact dedup with watermark-bounded state ---


def test_dedup_stream(spark, tmp_path):
    from flink_kafka_spark.streaming.jobs import dedup_stream

    t = 1_700_000_000
    lines = [
        f"1,100,1,pv,{t}",
        f"1,101,1,pv,{t + 10}",   # duplicate user 1 within watermark -> dropped
        f"2,100,1,pv,{t + 5}",
        f"3,100,1,pv,{t + 6}",
        f"2,102,1,pv,{t + 7}",    # duplicate user 2 -> dropped
    ]
    _write_lines(str(tmp_path / "in" / "part0.csv"), lines)
    stream = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    _run_stream(dedup_stream(stream, ["user_id"]), "dedup_out")
    got = spark.sql("SELECT user_id FROM dedup_out").collect()
    assert sorted(r.user_id for r in got) == [1, 2, 3]


def test_incremental_dedup_stream(spark, tmp_path):
    """Streaming near-dup filter: two micro-batches of incoming docs
    against a static reference — the planted rewording must come back
    non-novel, the genuinely new doc novel, in BOTH batches; and the
    per-batch release_scope must leave no tracked persists behind
    after the query stops."""
    from flink_kafka_spark import caching
    from flink_kafka_spark.streaming.jobs import incremental_dedup_stream

    ref_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    reference = spark.createDataFrame(
        [(1, ref_text), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    # batch docs: 10x = near-copy of ref 1 (one token changed), 10x+1 = novel
    b = tmp_path / "in"
    b.mkdir()
    (b / "f0.json").write_text(
        '{"doc_id": 10, "text": "alpha beta gamma delta epsilon zeta eta theta iota NEW"}\n'
        '{"doc_id": 11, "text": "completely unrelated fresh document body with new words"}\n'
    )
    (b / "f1.json").write_text(
        '{"doc_id": 20, "text": "alpha beta gamma delta epsilon zeta eta theta iota kappa"}\n'
        '{"doc_id": 21, "text": "another batch of genuinely novel text nothing shared here"}\n'
    )

    tracked_before = len(caching._LIVE)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
        .json(str(b))
    )
    seen: dict[int, list] = {}

    def sink(df, epoch_id):
        seen[epoch_id] = df.collect()

    q = incremental_dedup_stream(stream, reference, sink, threshold=0.5).trigger(
        availableNow=True
    ).option("checkpointLocation", str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)

    assert len(seen) == 2  # one verdict frame per file
    verdicts = {r.doc_id: r for rows in seen.values() for r in rows}
    assert set(verdicts) == {10, 11, 20, 21}
    for dup_id in (10, 20):
        assert verdicts[dup_id].is_novel == 0 and verdicts[dup_id].best_ref_id == 1
    assert verdicts[20].best_jaccard == 1.0  # verbatim copy
    for novel_id in (11, 21):
        assert verdicts[novel_id].is_novel == 1 and verdicts[novel_id].best_ref_id is None
    assert len(caching._LIVE) == tracked_before  # scoped release held


# --- click-fraud blacklist (T5): threshold warning + drop, per day ---


def test_blacklist_stream(spark, tmp_path):
    from flink_kafka_spark.streaming.stateful import blacklist_stream
    from flink_kafka_spark.schemas import AD_CLICK

    t = 1_700_000_000
    lines = []
    # user 1 / ad 7: 5 clicks -> 3 pass, then 1 warning, further dropped
    for i in range(5):
        lines.append(f"1,7,p,c,{t + i}")
    # user 2 / ad 7: 2 clicks -> all pass
    lines.append(f"2,7,p,c,{t}")
    lines.append(f"2,7,p,c,{t + 1}")
    # user 1 / ad 7 NEXT DAY: counter reset, click passes
    lines.append(f"1,7,p,c,{t + 86400}")
    _write_lines(str(tmp_path / "in" / "part0.csv"), lines)
    stream = csv_replay_source(spark, str(tmp_path / "in"), AD_CLICK).withWatermark(
        "ts", "0 seconds"
    )
    _run_stream(blacklist_stream(stream, threshold=3), "blk_out")
    rows = spark.sql("SELECT * FROM blk_out").collect()
    warnings = [tuple(r) for r in rows if r.result_type == "warning"]
    clicks = [tuple(r) for r in rows if r.result_type == "click"]
    assert warnings == [(1, 7, t + 3, "click over 3 times today", "warning")]
    assert len([c for c in clicks if c[0] == 1]) == 3 + 1  # 3 same-day + 1 next-day
    assert len([c for c in clicks if c[0] == 2]) == 2


# --- true streaming sessionization (session_window) ---


def test_session_stats_stream(spark, tmp_path):
    from flink_kafka_spark.streaming.jobs import session_stats_stream

    t = 1_700_000_000
    lines = [
        # user 1: two sessions (events 10s apart, then a 2h gap)
        f"1,100,1,pv,{t}",
        f"1,101,1,pv,{t + 10}",
        f"1,102,1,pv,{t + 7200}",
        # user 2: one session
        f"2,100,1,pv,{t + 5}",
        # sentinel far in the future closes all sessions
        f"9,999,1,pv,{t + 90000}",
    ]
    _write_lines(str(tmp_path / "in" / "part0.csv"), lines)
    stream = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    _run_stream(
        session_stats_stream(stream, gap="30 minutes", delay="0 seconds"), "sess_out"
    )
    got = sorted(
        (r.user_id, r.session_start_s, r.session_end_s, r.n_events)
        for r in spark.sql("SELECT * FROM sess_out").collect()
        if r.user_id != 9
    )
    gap = 1800
    assert got == [
        (1, t, t + 10 + gap, 2),
        (1, t + 7200, t + 7200 + gap, 1),
        (2, t + 5, t + 5 + gap, 1),
    ]


# --- parquet file sink: exactly-once across restarts ---


def test_parquet_sink_exactly_once(spark, tmp_path):
    from flink_kafka_spark.streaming.sinks import parquet_sink

    t = 1_700_000_000
    lines = [f"{i},{100 + i},1,pv,{t + i}" for i in range(10)]
    _write_lines(str(tmp_path / "in" / "part0.csv"), lines)
    stream = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    q = parquet_sink(stream, out, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 10

    # restart with the same checkpoint and no new input: the committed
    # batch must not be re-emitted (no duplicates)
    stream2 = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    q2 = parquet_sink(stream2, out, ckpt).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 10

    # new file arrives -> exactly the new rows appear after restart
    _write_lines(str(tmp_path / "in" / "part1.csv"), [f"99,999,1,pv,{t + 100}"])
    stream3 = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    q3 = parquet_sink(stream3, out, ckpt).trigger(availableNow=True).start()
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 11


# --- stream-stream interval join (J1) with watermark-bounded state ---


def test_tx_interval_join_stream(spark, tmp_path):
    from flink_kafka_spark.streaming.jobs import tx_interval_join_stream

    t = 1_700_000_000
    _write_lines(
        str(tmp_path / "orders" / "b1.csv"),
        [
            f"10,pay,txA,{t}",        # receipt 1s later -> in [-3,+5] match
            f"11,pay,txB,{t + 20}",   # receipt 10s later -> outside range
            f"12,pay,txC,{t + 40}",   # no receipt
        ],
    )
    _write_lines(
        str(tmp_path / "receipts" / "b1.csv"),
        [
            f"txA,wechat,{t + 1}",
            f"txB,alipay,{t + 30}",
        ],
    )
    orders = csv_replay_source(spark, str(tmp_path / "orders"), ORDER_EVENT)
    receipts = csv_replay_source(spark, str(tmp_path / "receipts"), RECEIPT_EVENT)
    _run_stream(tx_interval_join_stream(orders, receipts), "ij_out")
    got = sorted(map(tuple, spark.sql("SELECT * FROM ij_out").collect()))
    assert got == [(10, "txA", "wechat", t, t + 1)]


# --- synthetic rate source (S4) smoke ---


def test_marketing_rate_source(spark):
    import time

    from flink_kafka_spark.streaming.sources import marketing_rate_source

    df = marketing_rate_source(spark, rows_per_second=50)
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) FROM rate_out").first()[0]
            if n >= 10:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM rate_out").collect()
    assert len(rows) >= 10
    assert all(r.behavior in ("CLICK", "DOWNLOAD", "INSTALL", "UNINSTALL") for r in rows)
    assert all(r.channel in ("app store", "wechat", "weibo") for r in rows)
    assert all(0 <= r.user_id < 1000 for r in rows)


# --- exact + approx streaming UV (dedup-then-count chain) ---


def test_unique_visitor_stream(spark, tmp_path):
    from flink_kafka_spark.streaming.jobs import unique_visitor_stream

    base = 1_700_000_000 - (1_700_000_000 % 3600)
    lines = [
        f"1,100,1,pv,{base + 10}",
        f"1,101,1,pv,{base + 20}",    # duplicate user in window
        f"2,100,1,pv,{base + 30}",
        f"3,100,1,buy,{base + 40}",   # filtered (not pv)
        f"4,100,1,pv,{base + 3700}",  # next window
        f"9,999,1,pv,{base + 90000}", # sentinel closes windows
    ]
    _write_lines(str(tmp_path / "in" / "part0.csv"), lines)
    stream = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    _run_stream(unique_visitor_stream(stream), "uv_exact_out")
    got = sorted(
        (r.window_start_s, r.uv)
        for r in spark.sql("SELECT * FROM uv_exact_out").collect()
    )
    assert got == [(base, 2), (base + 3600, 1)]

    stream2 = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    _run_stream(unique_visitor_stream(stream2, approximate=True), "uv_approx_out")
    approx = sorted(
        (r.window_start_s, r.uv)
        for r in spark.sql("SELECT * FROM uv_approx_out").collect()
    )
    assert approx == [(base, 2), (base + 3600, 1)]  # tiny counts: HLL exact


# --- every streaming job starts and produces a valid plan ---


@pytest.mark.slow  # slow tier (r19): every job it smokes has an individual default-tier twin test
def test_all_jobs_smoke(spark, tmp_path):
    """Each remaining job runs end-to-end on a minimal fixture (the
    detailed-semantics tests above cover the rest)."""
    from flink_kafka_spark.schemas import APACHE_LOG, MARKETING_USER_BEHAVIOR
    from flink_kafka_spark.streaming.jobs import (
        channel_stats_stream,
        hot_pages_stream,
        page_view_stream,
    )
    from flink_kafka_spark.streaming.sources import file_stream_source

    t = 1_700_000_000
    _write_lines(
        str(tmp_path / "ub" / "a.csv"),
        [f"1,100,1,pv,{t}", f"2,100,1,pv,{t + 10}", f"9,9,1,pv,{t + 90000}"],
    )
    ub = csv_replay_source(spark, str(tmp_path / "ub"), USER_BEHAVIOR)
    _run_stream(page_view_stream(ub), "pv_smoke")
    assert spark.sql("SELECT sum(cnt) FROM pv_smoke").first()[0] == 2

    _write_lines(
        str(tmp_path / "mk" / "a.csv"),
        [f"1,CLICK,wechat,{t * 1000}", f"2,UNINSTALL,weibo,{t * 1000 + 5000}",
         f"9,CLICK,weibo,{(t + 90000) * 1000}"],
    )
    mk = csv_replay_source(spark, str(tmp_path / "mk"), MARKETING_USER_BEHAVIOR, sec_ts=False)
    _run_stream(channel_stats_stream(mk), "ch_smoke")
    rows = spark.sql("SELECT * FROM ch_smoke").collect()
    assert all(r.behavior != "UNINSTALL" for r in rows)
    assert sum(r.cnt for r in rows if r.behavior == "CLICK") > 0

    _write_lines(
        str(tmp_path / "log" / "a.log"),
        [
            "1.1.1.1 - - 17/05/2015:10:05:03 +0000 GET /page/one",
            "1.1.1.1 - - 17/05/2015:10:05:04 +0000 GET /style.css",
            "1.1.1.1 - - 17/05/2015:10:05:05 +0000 POST /page/two",
            "1.1.1.1 - - 18/05/2015:20:00:00 +0000 GET /sentinel",
        ],
    )
    from flink_kafka_spark.schemas import parse_apache_log_lines

    log = parse_apache_log_lines(spark.readStream.text(str(tmp_path / "log")))
    _run_stream(hot_pages_stream(log), "hp_smoke")
    urls = {r.url for r in spark.sql("SELECT * FROM hp_smoke").collect()}
    assert "/page/one" in urls and "/style.css" not in urls and "/page/two" not in urls


# --- W9 analog: update-mode re-emission of late-corrected windows ---


def test_late_data_update_mode(spark, tmp_path):
    """The reference's allowedLateness(1m) re-fires a window when late
    rows arrive before the lateness bound (HotPages.java:78-79). Spark
    analog: a watermark delay holds window state open; update output
    mode re-emits the corrected aggregate when a late row lands."""
    from flink_kafka_spark.operators.windows import windowed_count

    base = 1_700_000_000 - (1_700_000_000 % 3600)
    # batch 1: 2 events in window W, plus a row 30 min ahead (watermark
    # moves to ~+30min - 10min delay = W+20min; W still open)
    _write_lines(
        str(tmp_path / "in" / "b1.csv"),
        [f"1,100,1,pv,{base + 10}", f"2,100,1,pv,{base + 20}", f"3,100,1,pv,{base + 1800}"],
        mtime=1_000_000,
    )
    # batch 2: LATE row for W (ts < watermark position but within the
    # 10-minute delay bound? no — late relative to max event time seen,
    # still >= watermark) -> W count corrected 3 -> 4
    _write_lines(
        str(tmp_path / "in" / "b2.csv"),
        [f"4,100,1,pv,{base + 25}", f"9,9,1,pv,{base + 90000}"],
        mtime=2_000_000,
    )
    stream = csv_replay_source(
        spark, str(tmp_path / "in"), USER_BEHAVIOR, max_files_per_trigger=1
    ).withWatermark("ts", "10 minutes")
    counts = windowed_count(stream.filter(F.col("behavior") == "pv"), "ts", "1 hour")
    _run_stream(counts, "late_out", mode="update")
    rows = spark.sql(
        f"SELECT cnt FROM late_out WHERE window_start_s = {base}"
    ).collect()
    # W was emitted at least twice: once per micro-batch that touched it,
    # with the final emission carrying the corrected count of 4
    cnts = [r.cnt for r in rows]
    assert cnts[-1] == 4 and len(cnts) >= 2, cnts


# --- batch text operators run unchanged on streams ---


def test_text_ops_streamable(spark, tmp_path):
    """The text/PII operators are pure projections, so the SAME
    functions must run on a readStream DataFrame without modification
    — the engine's shared batch/streaming operator contract."""
    import json

    from flink_kafka_spark.operators.text import pii_scan, quality_score, token_count_bpe

    docs = [
        {"doc_id": 1, "text": "mail me at a.b@example.com today"},
        {"doc_id": 2, "text": "just plain words here"},
    ]
    os.makedirs(tmp_path / "in", exist_ok=True)
    (tmp_path / "in" / "docs.json").write_text(
        "\n".join(json.dumps(d) for d in docs) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(tmp_path / "in"))
    )
    _run_stream(pii_scan(stream), "pii_stream_out")
    got = {r.doc_id: (r.n_emails, r.has_pii) for r in spark.sql("SELECT * FROM pii_stream_out").collect()}
    assert got == {1: (1, 1), 2: (0, 0)}
    _run_stream(token_count_bpe(stream), "tok_stream_out")
    toks = {r.doc_id: r.n_bpe_tokens for r in spark.sql("SELECT * FROM tok_stream_out").collect()}
    assert toks[2] == 4
    _run_stream(quality_score(stream), "q_stream_out")
    assert spark.sql("SELECT count(*) FROM q_stream_out").first()[0] == 2


def test_chunking_streamable(spark, tmp_path):
    """chunk_documents (posexplode projection) runs unchanged on a
    stream: chunks arrive per micro-batch with the same boundaries the
    batch path produces."""
    import json

    from flink_kafka_spark.operators.text import chunk_documents

    # letters only: the BPE-ish regex splits letter/digit runs apart
    text = " ".join("tok" for _ in range(100))  # 100 tokens
    os.makedirs(tmp_path / "in", exist_ok=True)
    (tmp_path / "in" / "docs.json").write_text(json.dumps({"doc_id": 7, "text": text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(tmp_path / "in"))
    _run_stream(chunk_documents(stream, chunk=64, stride=48), "chunk_stream_out")
    rows = {r.chunk_id: r.n_chunk_tokens
            for r in spark.sql("SELECT * FROM chunk_stream_out").collect()}
    # ceil(100/48) = 3 chunks: 64, 52, 4 tokens
    assert rows == {0: 64, 1: 52, 2: 4}


# --- A7 fidelity: Bloom membership-dedup UV, batch + streaming ---


def test_uv_bloom_stream_matches_exact(spark, tmp_path):
    """UvWithBloomFilter semantics: per-window bitmap membership dedup.
    The bloom state must carry across micro-batches (user 1 reappearing
    in batch 2 must NOT increment), and at test scale (no collisions)
    the final per-window uv equals the exact distinct count."""
    from flink_kafka_spark.operators.windows import windowed_uv_bloom

    base = 1_700_000_000 - (1_700_000_000 % 3600)
    _write_lines(
        str(tmp_path / "in" / "b1.csv"),
        [f"1,100,1,pv,{base + 10}", f"1,101,1,pv,{base + 20}", f"2,100,1,pv,{base + 30}"],
        mtime=1_000_000,
    )
    _write_lines(
        str(tmp_path / "in" / "b2.csv"),
        # user 1 repeats (no increment); user 3 is new; next window user 4
        [f"1,102,1,pv,{base + 40}", f"3,100,1,pv,{base + 50}", f"4,100,1,pv,{base + 3700}"],
        mtime=2_000_000,
    )
    stream = csv_replay_source(
        spark, str(tmp_path / "in"), USER_BEHAVIOR, max_files_per_trigger=1
    )
    _run_stream(
        windowed_uv_bloom(stream, "ts", "1 hour", "user_id", m_bits=1 << 16),
        "uvb_out",
    )
    rows = spark.sql("SELECT * FROM uvb_out").collect()
    # last emission per window carries the final membership count
    final = {}
    for r in rows:
        final[r.window_start_s] = r.uv
    assert final == {base: 3, base + 3600: 1}
    # batch twin on the same rows agrees
    batch_src = parse_csv_lines(spark.read.text(str(tmp_path / "in")), USER_BEHAVIOR)
    got = {
        (r.window_start_s, r.uv)
        for r in windowed_uv_bloom(
            batch_src, "ts", "1 hour", "user_id", m_bits=1 << 16
        ).collect()
    }
    assert got == {(base, 3), (base + 3600, 1)}


def test_uv_bloom_stream_state_eviction(spark, tmp_path):
    """The per-window bitmap dies with its window (round-3 verdict #1):
    once the watermark passes window_end + lateness, the event-time
    timer fires and the window's state row is removed. This fixes
    unbounded growth the reference actually exhibits — UvWithBloom-
    Filter.java:125-155 never deletes or expires its per-window Redis
    bitmap keys (FIRE_AND_PURGE purges only Flink's window buffer).
    Without eviction every window's packed bitmap (~m_bits/8 bytes)
    would live for stream lifetime."""
    import time

    from flink_kafka_spark.operators.windows import windowed_uv_bloom

    base = 1_700_000_000 - (1_700_000_000 % 3600)
    _write_lines(
        str(tmp_path / "in" / "b1.csv"),
        [f"1,100,1,pv,{base + 10}", f"2,100,1,pv,{base + 20}"],
        mtime=1_000_000,
    )
    # batch 2: a row 4 windows ahead drives the watermark (max_ts − 1h
    # lateness ≈ base+3h) past window A's eviction instant (window_end +
    # lateness = base+2h) → A's timer fires on the next (no-data) batch
    _write_lines(
        str(tmp_path / "in" / "b2.csv"),
        [f"9,100,1,pv,{base + 4 * 3600 + 10}"],
        mtime=2_000_000,
    )
    stream = csv_replay_source(
        spark, str(tmp_path / "in"), USER_BEHAVIOR, max_files_per_trigger=1
    )
    out = windowed_uv_bloom(stream, "ts", "1 hour", "user_id", m_bits=1 << 16)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("uvb_evict")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    n_state = None
    try:
        q.processAllAvailable()
        deadline = time.time() + 60
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["stateOperators"]:
                n_state = p["stateOperators"][0]["numRowsTotal"]
                if n_state == 1:
                    break
            time.sleep(0.5)
    finally:
        q.stop()
    # window A's bitmap evicted; only the live far-future window remains
    assert n_state == 1
    final = {
        r.window_start_s: r.uv
        for r in spark.sql("SELECT * FROM uvb_evict").collect()
    }
    assert final == {base: 2, base + 4 * 3600: 1}


# --- W9 true late side output: rows past allowedLateness diverted ---


def test_late_split_stream(spark, tmp_path):
    """HotPages.java:78-79,83 semantics: with allowedLateness(60s), a
    row older than watermark-60s goes to the late side output instead
    of being dropped. Batch 1 advances the operator's own watermark to
    t+600; batch 2 then delivers one row inside the lateness bound
    (on_time) and one beyond it (late). Spark's built-in watermark
    would have silently dropped the late row — the whole point of the
    operator is that it still surfaces, tagged."""
    from flink_kafka_spark.streaming.stateful import late_split_stream

    t = 1_700_000_000
    _write_lines(
        str(tmp_path / "in" / "b1.csv"),
        [f"1,100,1,pv,{t}", f"1,101,1,pv,{t + 10}", f"1,102,1,pv,{t + 600}"],
        mtime=1_000_000,
    )
    _write_lines(
        str(tmp_path / "in" / "b2.csv"),
        # wm after b1 = t+600 (delay 0). t+590 >= wm-60 -> on_time;
        # t+5 < wm-60 -> late side output
        [f"1,103,1,pv,{t + 590}", f"1,104,1,pv,{t + 5}"],
        mtime=2_000_000,
    )
    stream = csv_replay_source(
        spark, str(tmp_path / "in"), USER_BEHAVIOR, max_files_per_trigger=1
    )
    _run_stream(
        late_split_stream(
            stream, key_col="user_id", delay_s=0, allowed_lateness_s=60
        ),
        "late_split_out",
    )
    got = {
        (r.item_id, r.ts_s, r.wm_s, r.result_type)
        for r in spark.sql("SELECT * FROM late_split_out").collect()
    }
    assert got == {
        (100, t, -1, "on_time"),          # batch 1: no watermark yet
        (101, t + 10, -1, "on_time"),
        (102, t + 600, -1, "on_time"),
        (103, t + 590, t + 600, "on_time"),  # within allowedLateness
        (104, t + 5, t + 600, "late"),       # diverted, not dropped
    }


# --- J2 via built-in full-outer stream-stream join ---


def test_tx_match_join_stream(spark, tmp_path):
    from flink_kafka_spark.streaming.jobs import tx_match_join_stream

    t = 1_700_000_000
    _write_lines(
        str(tmp_path / "orders" / "b1.csv"),
        [f"10,pay,txA,{t}", f"11,pay,txB,{t + 2}"],
        mtime=1_000_000,
    )
    _write_lines(
        str(tmp_path / "orders" / "b2.csv"), [f"12,pay,txZ2,{t + 10000}"], mtime=2_000_000
    )
    _write_lines(
        str(tmp_path / "receipts" / "b1.csv"),
        [f"txA,wechat,{t + 1}", f"txC,alipay,{t + 3}"],
        mtime=1_000_000,
    )
    _write_lines(
        str(tmp_path / "receipts" / "b2.csv"), [f"txZ,alipay,{t + 10000}"], mtime=2_000_000
    )
    orders = csv_replay_source(
        spark, str(tmp_path / "orders"), ORDER_EVENT, max_files_per_trigger=1
    )
    receipts = csv_replay_source(
        spark, str(tmp_path / "receipts"), RECEIPT_EVENT, max_files_per_trigger=1
    )
    _run_stream_until(spark, tx_match_join_stream(orders, receipts), "txj_out", 3)
    got = {tuple(r) for r in spark.sql("SELECT * FROM txj_out").collect()}
    assert ("txA", t, t + 1, "matched") in got
    assert ("txB", t + 2, None, "unmatched_pay") in got
    assert ("txC", None, t + 3, "unmatched_receipt") in got


# --- K4 explicit retract/changelog stream via snapshot-diff sink ---


def test_changelog_sink_retraction(spark, tmp_path):
    """HotItemsWithSql.java:91-92 retract semantics: when a late row
    corrects a window count, the changelog must carry the retraction
    of the old value (Flink's ``(false, row)``) followed by the
    corrected row — not just a silent re-emission. Replaying the log
    must reconstruct the final result table exactly."""
    from flink_kafka_spark.operators.windows import windowed_count
    from flink_kafka_spark.streaming.sinks import changelog_sink

    base = 1_700_000_000 - (1_700_000_000 % 3600)
    # batch 1: window W gets 2 pv rows (+ a row keeping W open)
    _write_lines(
        str(tmp_path / "in" / "b1.csv"),
        [f"1,100,1,pv,{base + 10}", f"2,100,1,pv,{base + 20}", f"3,100,1,pv,{base + 1800}"],
        mtime=1_000_000,
    )
    # batch 2: late row for W -> count corrected 3 -> 4
    _write_lines(
        str(tmp_path / "in" / "b2.csv"),
        [f"4,100,1,pv,{base + 25}", f"9,9,1,pv,{base + 90000}"],
        mtime=2_000_000,
    )
    stream = csv_replay_source(
        spark, str(tmp_path / "in"), USER_BEHAVIOR, max_files_per_trigger=1
    ).withWatermark("ts", "10 minutes")
    counts = windowed_count(stream.filter(F.col("behavior") == "pv"), "ts", "1 hour")
    out_dir, state_dir = str(tmp_path / "clog"), str(tmp_path / "snap")
    q = changelog_sink(
        counts, ["window_start_s", "window_end_s"], state_dir, out_dir
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    log = spark.read.parquet(out_dir)
    w_rows = sorted(
        (r.batch_id, r.op, r.cnt)
        for r in log.filter(F.col("window_start_s") == base).collect()
    )
    # insert of the initial count, then retract+update after the late row
    assert w_rows[0][1:] == ("+I", 3)
    assert ("-U", 3) in {r[1:] for r in w_rows} and ("+U", 4) in {r[1:] for r in w_rows}
    retract_b, update_b = (
        next(r.batch_id for r in log.collect() if r.op == "-U"),
        next(r.batch_id for r in log.collect() if r.op == "+U"),
    )
    assert retract_b == update_b  # retraction pairs with its correction

    # replaying the changelog reconstructs the exact final result table
    signed = log.withColumn(
        "sgn", F.when(F.col("op") == "-U", -1).otherwise(1)
    )
    replayed = (
        signed.groupBy("window_start_s", "window_end_s")
        .agg(F.sum(F.col("sgn") * F.col("cnt")).alias("cnt"), F.sum("sgn").alias("n"))
        .filter(F.col("n") == 1)  # exactly one live row per key
        .select("window_start_s", "window_end_s", "cnt")
    )
    final_snap = spark.read.parquet(state_dir + "/snapshot")
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, final_snap.select("window_start_s", "window_end_s", "cnt").collect())
    )
    w_final = {r.window_start_s: r.cnt for r in final_snap.collect()}
    assert w_final[base] == 4


def test_sequence_match_stream_out_of_order(spark, tmp_path):
    """Generic streaming CEP: fail followedBy success within 10s.
    User 3's fail arrives one micro-batch AFTER its success — the
    buffer-until-watermark semantics must still match them in event
    time (a process-on-arrival implementation would miss it). Result
    must equal the batch match_sequence on the same rows."""
    from flink_kafka_spark.operators.patterns import match_sequence
    from flink_kafka_spark.streaming.stateful import sequence_match_stream

    t = 1_700_000_000
    steps = [("fail", "login_state = 'fail'"), ("ok", "login_state = 'success'")]
    b1 = [
        f"1,ip,fail,{t}",
        f"1,ip,success,{t + 3}",    # user 1 completes in-batch
        f"2,ip,fail,{t}",
        f"3,ip,success,{t + 5}",    # user 3: success arrives FIRST
    ]
    b2 = [
        f"3,ip,fail,{t + 1}",       # ...then the earlier fail (out of order)
        f"2,ip,success,{t + 20}",   # outside within=10 -> no match
        f"999,ip,success,{t + 1000}",  # sentinel advances the watermark
    ]
    _write_lines(str(tmp_path / "in" / "b1.csv"), b1, mtime=1_000_000)
    _write_lines(str(tmp_path / "in" / "b2.csv"), b2, mtime=2_000_000)
    stream = csv_replay_source(
        spark, str(tmp_path / "in"), LOGIN_EVENT, max_files_per_trigger=1
    ).withWatermark("ts", "10 seconds")
    _run_stream(
        sequence_match_stream(stream, "user_id", "ts", steps, within_s=10),
        "seq_out",
    )
    got = sorted(map(tuple, spark.sql("SELECT * FROM seq_out").collect()))
    assert got == [(1, t, t + 3), (3, t + 1, t + 5)]

    batch = spark.createDataFrame(
        [r.split(",") for r in b1 + b2], ["user_id", "ip", "login_state", "ts_raw"]
    ).selectExpr(
        "CAST(user_id AS LONG) user_id",
        "login_state",
        "timestamp_seconds(CAST(ts_raw AS LONG)) AS ts",
    )
    want = sorted(
        (r.user_id, r.ts_fail, r.ts_ok)
        for r in match_sequence(
            batch, "user_id", "ts", steps, within_s=10, contiguity="relaxed"
        ).collect()
    )
    assert got == want


def test_drift_monitor_stream(spark, tmp_path):
    """Streaming PSI monitor: two micro-batches against a static
    reference — a batch drawn from the reference's own distribution
    scores near 0 for every key, a value-shifted batch crosses the
    0.25 alarm line for the shifted key only, and a key ABSENT from
    the reference (new event type appearing live) still produces a
    scored row (the grid is the union of both key sets)."""
    from flink_kafka_spark.streaming.jobs import drift_monitor_stream

    # reference: two types, values uniform over known ranges
    ref_rows = [("click", float(i % 100)) for i in range(1000)]
    ref_rows += [("view", float(i % 100)) for i in range(1000)]
    reference = spark.createDataFrame(ref_rows, "event_type string, value double")

    b = tmp_path / "in"
    b.mkdir()
    # batch 0: same distribution as the reference
    (b / "f0.json").write_text(
        "\n".join(
            f'{{"event_type": "click", "value": {float(i % 100)}}}' for i in range(500)
        )
        + "\n"
        + "\n".join(
            f'{{"event_type": "view", "value": {float(i % 100)}}}' for i in range(500)
        )
        + "\n"
    )
    # batch 1: click values collapse to the top bucket; view stays
    # stationary; a brand-new type appears
    (b / "f1.json").write_text(
        "\n".join('{"event_type": "click", "value": 99.0}' for _ in range(500))
        + "\n"
        + "\n".join(
            f'{{"event_type": "view", "value": {float(i % 100)}}}' for i in range(500)
        )
        + "\n"
        + "\n".join('{"event_type": "fresh", "value": 50.0}' for _ in range(100))
        + "\n"
    )

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(b))
    )
    seen: dict[int, dict] = {}

    def sink(df, epoch_id):
        seen[epoch_id] = {r.event_type: r for r in df.collect()}

    q = (
        drift_monitor_stream(stream, reference, sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    assert len(seen) == 2
    b0, b1 = seen[0], seen[1]
    # stationary batch: everything quiet (sample noise only)
    assert b0["click"].psi < 0.05 and b0["view"].psi < 0.05
    assert b0["click"].n_reference == 1000 and b0["click"].n_batch == 500
    # drifted batch: the collapsed type alarms, the stationary one doesn't
    assert b1["click"].psi > 0.25
    assert b1["view"].psi < 0.05
    # never-seen key still scored, against an all-zero reference row
    assert b1["fresh"].n_reference == 0 and b1["fresh"].n_batch == 100
    assert b1["fresh"].psi > 0.25


def test_heavy_hitters_stream(spark, tmp_path):
    """Continuous MG sketch across micro-batches: after replaying two
    batches with planted mega-keys over a wide tail, every key whose
    TRUE total exceeds n/(k+1) survives in the final sketch, no
    estimate exceeds its true count, and no undercount exceeds
    n/(k+1) — the PODS'12 bound, asserted against exact counts over
    the union of both batches."""
    import collections
    import json

    from flink_kafka_spark.streaming.jobs import heavy_hitters_stream

    k = 8
    b = tmp_path / "in"
    b.mkdir()
    batches = []
    for fi in range(2):
        rows = []
        for i in range(600):
            rows.append(f"tail_{fi}_{i % 150}")  # wide tail, 4 each
        rows += ["mega_a"] * 400 + ["mega_b"] * 300
        if fi == 1:
            rows += ["late_mega"] * 700  # heavy key appearing late
        batches.append(rows)
        (b / f"f{fi}.json").write_text(
            "\n".join(json.dumps({"key": r}) for r in rows) + "\n"
        )

    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .json(str(b))
    )
    seen: dict[int, list] = {}

    def sink(df, epoch_id):
        seen[epoch_id] = df.collect()

    q = (
        heavy_hitters_stream(stream, sink, col="key", k=k)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    assert len(seen) == 2
    exact = collections.Counter(r for rows in batches for r in rows)
    n = sum(exact.values())
    final = {r.item: r.est for r in seen[1] if r.item is not None}
    assert final and all(est <= exact[item] for item, est in final.items())
    bound = n / (k + 1)
    for item, true in exact.items():
        if true > bound:
            assert item in final, (item, true, bound)
    for item, est in final.items():
        assert exact[item] - est <= bound
    assert seen[1][0].n_seen == n
    # the late-arriving mega key must have displaced earlier tail mass
    assert "late_mega" in final and "mega_a" in final


# --- resample family: streaming bucket partials + foreachBatch gapfill ---


def test_gapfill_stream_matches_batch(spark, tmp_path):
    """bucket_partials_stream -> emit_gapfill on the closed buckets of
    one availableNow run must reproduce the batch resample_ffill over
    the same (fully-closed) events — the streaming face shares the
    batch operator's densify/ffill arithmetic by construction, and
    this pins it end-to-end through a real micro-batch."""
    from flink_kafka_spark.operators.timeseries import resample_ffill
    from flink_kafka_spark.streaming.jobs import bucket_partials_stream, emit_gapfill

    base = 1_700_000_000 - (1_700_000_000 % 60)
    lines = []
    # item 100: buckets 0,1 then a 3-bucket gap, then bucket 5
    for off in (5, 20, 70, 5 * 60 + 3):
        lines.append(f"1,100,1,pv,{base + off}")
    # item 200: single observation in bucket 2
    lines.append(f"2,200,1,pv,{base + 2 * 60 + 9}")
    # far-future sentinel on a fresh key closes every bucket above;
    # its own bucket stays open and is never emitted
    lines.append(f"9,999,1,pv,{base + 86400}")
    _write_lines(str(tmp_path / "in" / "part0.csv"), lines)

    stream = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    # user_behavior has no value column; resample the item_id as the
    # value so NULL/e4 paths run on real numbers
    partials = bucket_partials_stream(stream, "item_id", "item_id", step_s=60)

    emitted = []

    def _sink(batch_df, epoch_id):
        emitted.extend(
            tuple(r) for r in emit_gapfill(batch_df, "item_id", step_s=60).collect()
        )

    q = (
        partials.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_src = parse_csv_lines(
        spark.read.text(str(tmp_path / "in")), USER_BEHAVIOR
    ).filter(F.col("user_id") != 9)
    want = sorted(
        tuple(r)
        for r in resample_ffill(batch_src, "item_id", "ts", "item_id", 60).collect()
    )
    assert sorted(emitted) == want
    # the gap really densified: item 200 has zero-filled rows over the
    # shared grid range with the carried mean
    got = {(r[0], r[1]): r[2:] for r in emitted}
    assert got[(200, base)][0] == 0 and got[(200, base)][1] is None
    assert got[(200, base + 3 * 60)] == (0, None, 200.0, 1)


def test_session_stream_matches_batch_session_window(spark, tmp_path):
    """Twin parity for the native session_window operator: the
    streaming session_stats_stream and a batch session_window
    aggregation over the SAME replayed events must agree on every
    closed session (r9 verdict item 4 — session_windows_native claims
    a streaming-capable plan; this executes that claim)."""
    from flink_kafka_spark.streaming.jobs import session_stats_stream

    t = 1_700_000_000
    lines = []
    # 6 users x interleaved bursts: within-gap chains, exact-gap
    # boundaries (merge), gap+1 breaks
    gap = 600
    for u in range(1, 7):
        start = t + u * 37
        for burst in range(3):
            b0 = start + burst * (gap * 2 + u)  # separated by > gap
            for j in range(u % 3 + 1):
                lines.append(f"{u},{100 + j},1,pv,{b0 + j * (gap // 2)}")
    lines.append(f"9,999,1,pv,{t + 864000}")  # sentinel closes all
    _write_lines(str(tmp_path / "in" / "part0.csv"), lines)

    stream = csv_replay_source(spark, str(tmp_path / "in"), USER_BEHAVIOR)
    _run_stream(
        session_stats_stream(stream, gap="10 minutes", delay="0 seconds"),
        "sess_twin_out",
    )
    got = sorted(
        (r.user_id, r.session_start_s, r.session_end_s, r.n_events)
        for r in spark.sql("SELECT * FROM sess_twin_out").collect()
        if r.user_id != 9
    )

    batch_src = parse_csv_lines(
        spark.read.text(str(tmp_path / "in")), USER_BEHAVIOR
    ).filter(F.col("user_id") != 9)
    want = sorted(
        map(
            tuple,
            batch_src.groupBy("user_id", F.session_window("ts", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").cast("long").alias("session_start_s"),
                F.col("session_window.end").cast("long").alias("session_end_s"),
                "n_events",
            )
            .collect(),
        )
    )
    assert got == want and len(got) >= 12


def test_cms_stream_exactly_equals_batch_sketch(spark, tmp_path):
    """Continuous CM sketch across micro-batches: the merge is counter
    ADDITION, so the streamed estimates after two batches must EQUAL
    (not just bound) the batch count_min_sketch estimates over the
    concatenated input — including for a watched item that never
    occurs (pure collision floor)."""
    import json

    from flink_kafka_spark.operators.sketches import cms_estimate, count_min_sketch
    from flink_kafka_spark.streaming.jobs import cms_stream

    width, depth = 64, 3  # narrow -> collisions are real, equality still exact
    b = tmp_path / "in"
    b.mkdir()
    batches = []
    for fi in range(2):
        rows = ["mega"] * (300 + 100 * fi) + [f"tail_{fi}_{i % 40}" for i in range(200)]
        batches.append(rows)
        (b / f"f{fi}.json").write_text(
            "\n".join(json.dumps({"key": r}) for r in rows) + "\n"
        )
    watch = ["mega", "tail_0_3", "tail_1_7", "never_seen"]

    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .json(str(b))
    )
    seen: dict[int, list] = {}

    def sink(df, epoch_id):
        seen[epoch_id] = df.collect()

    q = (
        cms_stream(stream, sink, col="key", watch=watch, width=width, depth=depth)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    assert len(seen) == 2
    final = {r.item: r.est_c for r in seen[1]}
    all_rows = [r for rows in batches for r in rows]
    whole = spark.createDataFrame([(r,) for r in all_rows], "key string")
    items = spark.createDataFrame([(w,) for w in watch], "key string")
    batch_est = {
        r["key"]: r["est_c"]
        for r in cms_estimate(
            count_min_sketch(whole, "key", width, depth), items, "key", width, depth
        ).collect()
    }
    assert final == batch_est
    assert seen[1][0].n_seen == len(all_rows)
    assert final["mega"] >= 700  # never undercounts


def test_cms_stream_restart_seeded_from_snapshot_is_exact(spark, tmp_path):
    """The restart contract: counter_snapshot hands out the full
    counter table each epoch, and a NEW monitor seeded from the last
    snapshot continues as if never restarted — final estimates equal
    the batch sketch over everything both processes saw (exact,
    because the CM merge is counter addition)."""
    import json

    from flink_kafka_spark.operators.sketches import cms_estimate, count_min_sketch
    from flink_kafka_spark.streaming.jobs import cms_stream

    width, depth = 64, 3
    watch = ["mega", "tail_1", "never_seen"]
    rows_a = ["mega"] * 100 + [f"tail_{i % 20}" for i in range(80)]
    rows_b = ["mega"] * 50 + [f"tail_{i % 30}" for i in range(90)]

    def replay(rows, subdir):
        d = tmp_path / subdir
        d.mkdir()
        (d / "f.json").write_text("\n".join(json.dumps({"key": r}) for r in rows) + "\n")
        return spark.readStream.schema("key string").json(str(d))

    snaps: list = []
    # separate sink stores per run: the seeded query restarts epoch
    # numbering at 0, so a shared epoch-keyed dict would overwrite the
    # first run's rows and make max(epoch) pick the wrong run if the
    # two replays ever split into different batch counts
    seen_a: dict[int, list] = {}
    seen_b: dict[int, list] = {}

    q = (
        cms_stream(
            replay(rows_a, "a"),
            lambda df, e: seen_a.__setitem__(e, df.collect()),
            col="key", watch=watch, width=width, depth=depth,
            counter_snapshot=lambda c, n, e: snaps.append((c, n)),
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_a"))
        .start()
    )
    q.awaitTermination(120)
    assert snaps and snaps[-1][1] == len(rows_a)
    assert seen_a[max(seen_a)][0].n_seen == len(rows_a)

    # "restart": a fresh monitor seeded from the last snapshot
    q2 = (
        cms_stream(
            replay(rows_b, "b"),
            lambda df, e: seen_b.__setitem__(e, df.collect()),
            col="key", watch=watch, width=width, depth=depth,
            seed=snaps[-1],
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_b"))
        .start()
    )
    q2.awaitTermination(120)

    final = {r.item: r.est_c for r in seen_b[max(seen_b)]}
    whole = spark.createDataFrame([(r,) for r in rows_a + rows_b], "key string")
    items = spark.createDataFrame([(w,) for w in watch], "key string")
    batch_est = {
        r["key"]: r["est_c"]
        for r in cms_estimate(
            count_min_sketch(whole, "key", width, depth), items, "key", width, depth
        ).collect()
    }
    assert final == batch_est
    assert seen_b[max(seen_b)][0].n_seen == len(rows_a) + len(rows_b)


def test_reservoir_stream_exactly_equals_batch_sample(spark, tmp_path):
    """Continuous A-Res reservoir: top-m(top-m(A) ∪ B) = top-m(A ∪ B)
    and the priority key is a pure function of (seed, id), so the
    streamed manifest after two batches must EQUAL the batch
    weighted_sample over the concatenated rows — ids, keys and ranks."""
    import json

    from flink_kafka_spark.operators.sampling import weighted_sample
    from flink_kafka_spark.streaming.jobs import reservoir_stream

    m = 5
    batches = [
        [(i, "a" if i % 3 else "b", 1 + (i % 7)) for i in range(60)],
        [(i, "a" if i % 3 else "b", 1 + (i % 7)) for i in range(60, 130)],
    ]
    b = tmp_path / "in"
    b.mkdir()
    for fi, rows in enumerate(batches):
        (b / f"f{fi}.json").write_text(
            "\n".join(
                json.dumps({"rid": r[0], "stratum": r[1], "w": r[2]}) for r in rows
            )
            + "\n"
        )
    stream = (
        spark.readStream.schema("rid long, stratum string, w int")
        .option("maxFilesPerTrigger", 1)
        .json(str(b))
    )
    seen: dict[int, list] = {}
    q = (
        reservoir_stream(
            stream,
            lambda df, e: seen.__setitem__(e, df.collect()),
            id_col="rid", weight_sql="w", stratum_col="stratum", m=m,
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    final = sorted(
        (r["stratum"], r["rid"], r["wkey"], r["rank"]) for r in seen[max(seen)]
    )
    whole = spark.createDataFrame(
        [r for rows in batches for r in rows], "rid long, stratum string, w int"
    )
    want = sorted(
        (r["stratum"], r["rid"], r["wkey"], r["rank"])
        for r in weighted_sample(whole, "rid", "w", "stratum", m).collect()
    )
    assert final == want and len(final) == 2 * m
    # both strata present in both batches -> batch 1's manifest differs
    assert sorted(
        (r["stratum"], r["rid"]) for r in seen[0]
    ) != sorted((r["stratum"], r["rid"]) for r in seen[max(seen)])


def test_heavy_hitters_stream_restart_seeded_from_emitted_frame(spark, tmp_path):
    """r10 verdict item 6: the MG monitor's emitted (item, est, n_seen)
    frame IS re-seedable state. A new monitor seeded from the last
    emitted frame must end bit-identical to one uninterrupted monitor
    that saw both streams — both hold a k-summary and fold batches in
    with the same PODS'12 merge, so parity is an equality."""
    import json

    from flink_kafka_spark.streaming.jobs import heavy_hitters_stream

    k = 8
    rows_a = ["mega"] * 60 + [f"t{i % 25}" for i in range(70)]
    rows_b = ["mega"] * 30 + [f"t{i % 12}" for i in range(50)]

    def replay(chunks, subdir):
        d = tmp_path / subdir
        d.mkdir()
        for fi, rows in enumerate(chunks):
            (d / f"f{fi}.json").write_text(
                "\n".join(json.dumps({"key": r}) for r in rows) + "\n"
            )
        return (
            spark.readStream.schema("key string")
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )

    def run(stream, ckpt, seed=None):
        seen: dict[int, list] = {}
        q = (
            heavy_hitters_stream(
                stream,
                lambda df, e: seen.__setitem__(e, df.collect()),
                col="key", k=k, seed=seed,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination(120)
        return seen[max(seen)]

    # run A, snapshot its last emitted frame, then run B seeded from it
    last_a = run(replay([rows_a], "a"), "ck_a")
    snapshot = ({r.item: r.est for r in last_a}, last_a[0].n_seen)
    seeded_final = run(replay([rows_b], "b"), "ck_b", seed=snapshot)

    # control: ONE uninterrupted monitor fed the same two batches
    control_final = run(replay([rows_a, rows_b], "ab"), "ck_ab")

    as_map = lambda rows: {r.item: r.est for r in rows}
    assert as_map(seeded_final) == as_map(control_final)
    assert seeded_final[0].n_seen == control_final[0].n_seen == len(rows_a) + len(rows_b)


def test_reservoir_stream_restart_seeded_from_manifest_is_exact(spark, tmp_path):
    """ADVICE r10: the reservoir restart contract is now executable —
    the emitted manifest carries wkey, so seeding a new monitor from
    the last manifest's (stratum, id, wkey) rows continues exactly:
    the seeded run's final manifest equals batch-sampling ALL rows."""
    import json

    from flink_kafka_spark.operators.sampling import weighted_sample
    from flink_kafka_spark.streaming.jobs import reservoir_stream

    m = 4
    rows_a = [(i, "a" if i % 3 else "b", 1 + (i % 5)) for i in range(50)]
    rows_b = [(i, "a" if i % 3 else "b", 1 + (i % 5)) for i in range(50, 120)]

    def replay(rows, subdir):
        d = tmp_path / subdir
        d.mkdir()
        (d / "f.json").write_text(
            "\n".join(
                json.dumps({"rid": r[0], "stratum": r[1], "w": r[2]}) for r in rows
            )
            + "\n"
        )
        return spark.readStream.schema("rid long, stratum string, w int").json(str(d))

    def run(rows, subdir, seed=None):
        seen: dict[int, list] = {}
        q = (
            reservoir_stream(
                replay(rows, subdir),
                lambda df, e: seen.__setitem__(e, df.collect()),
                id_col="rid", weight_sql="w", stratum_col="stratum", m=m, seed=seed,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ck_{subdir}"))
            .start()
        )
        q.awaitTermination(120)
        return seen[max(seen)]

    last_a = run(rows_a, "a")
    manifest = [(r["stratum"], r["rid"], r["wkey"]) for r in last_a]
    final = run(rows_b, "b", seed=manifest)

    whole = spark.createDataFrame(rows_a + rows_b, "rid long, stratum string, w int")
    want = sorted(
        (r["stratum"], r["rid"], r["wkey"], r["rank"])
        for r in weighted_sample(whole, "rid", "w", "stratum", m).collect()
    )
    got = sorted((r["stratum"], r["rid"], r["wkey"], r["rank"]) for r in final)
    assert got == want


@pytest.mark.slow  # slow tier (r19): batch kmv oracles + the manifest composition test stay default
def test_kmv_stream_bit_matches_batch_and_restarts_exactly(spark, tmp_path):
    """The KMV monitor's merge (k smallest distinct hashes of the
    per-batch k-minima) must make the streamed sketch IDENTICAL to
    batch-sketching all rows — manifest hashes, ranks AND the integer
    estimate — and the emitted (s, h) manifest must seed a restarted
    monitor to the same end state."""
    import json

    from flink_kafka_spark.operators.sketches import kmv_estimate, kmv_minima
    from flink_kafka_spark.streaming.jobs import kmv_stream

    k = 16
    # two sets: "big" crosses k distinct values (estimator path),
    # "small" stays below (exact path); batches overlap in values so
    # the distinct-merge rule is actually exercised
    rows_a = [("big", f"v{i}") for i in range(200)] + [("small", f"s{i}") for i in range(6)]
    rows_b = [("big", f"v{i}") for i in range(150, 400)] + [("small", f"s{i}") for i in range(4, 9)]

    def replay(chunks, subdir):
        d = tmp_path / subdir
        d.mkdir()
        for fi, rows in enumerate(chunks):
            (d / f"f{fi}.json").write_text(
                "\n".join(json.dumps({"s": s, "v": v}) for s, v in rows) + "\n"
            )
        return (
            spark.readStream.schema("s string, v string")
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )

    def run(stream, ckpt, seed=None):
        seen: dict[int, list] = {}
        q = (
            kmv_stream(
                stream,
                lambda df, e: seen.__setitem__(e, df.collect()),
                set_col="s", val_sql="v", k=k, seed=seed,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination(120)
        return seen[max(seen)]

    # uninterrupted two-batch run == batch sketch of everything
    final = run(replay([rows_a, rows_b], "ab"), "ck_ab")
    whole = spark.createDataFrame(rows_a + rows_b, "s string, v string")
    batch_minima = kmv_minima(whole, "s", "v", k)
    want_manifest = sorted(
        (r["s"], r["h"], r["rn"]) for r in batch_minima.collect()
    )
    got_manifest = sorted((r["s"], r["h"], r["rn"]) for r in final)
    assert got_manifest == want_manifest
    want_est = {r["s"]: r["est"] for r in kmv_estimate(batch_minima, k).collect()}
    got_est = {r["s"]: r["est"] for r in final}
    assert got_est == want_est
    assert got_est["small"] == 9  # exact branch: below k distinct

    # restart: seed a fresh monitor from run A's manifest, feed B only
    last_a = run(replay([rows_a], "a"), "ck_a")
    seeded_final = run(
        replay([rows_b], "b"), "ck_b",
        seed=[(r["s"], r["h"]) for r in last_a],
    )
    assert sorted((r["s"], r["h"], r["rn"], r["est"]) for r in seeded_final) == sorted(
        (r["s"], r["h"], r["rn"], r["est"]) for r in final
    )

    # composition: the live manifest IS a kmv_minima frame, so the
    # pair set-algebra runs on it directly — intersections between
    # monitored sets from sketch state alone, bit-equal to batch
    from flink_kafka_spark.operators.sketches import kmv_pair_intersections

    streamed = spark.createDataFrame(
        [(r["s"], r["h"], r["rn"]) for r in final], "s string, h long, rn int"
    )
    got_pairs = sorted(
        tuple(r) for r in kmv_pair_intersections(streamed, k).collect()
    )
    want_pairs = sorted(
        tuple(r) for r in kmv_pair_intersections(batch_minima, k).collect()
    )
    assert got_pairs == want_pairs and got_pairs


def test_reservoir_stream_rejects_legacy_int_seed():
    """The pre-r11 signature had `seed: int` as the A-Res hash seed;
    that meaning moved to `ares_seed`. An int in `seed` must fail
    loudly, not silently sample with a different key."""
    import pytest

    from flink_kafka_spark.streaming.jobs import reservoir_stream

    with pytest.raises(TypeError, match="ares_seed"):
        reservoir_stream(
            None, lambda df, e: None,
            id_col="rid", weight_sql="w", stratum_col="stratum", m=4, seed=0,
        )


def test_reservoir_stream_replay_after_seed_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once across restarts: a monitor seeded
    from the manifest that included batch N must absorb a REPLAY of
    batch N without duplicating ids across ranks — the A-Res key is a
    pure function of (ares_seed, id), so the replayed pairs are
    bit-identical and the merge dedups them."""
    import json

    from flink_kafka_spark.operators.sampling import weighted_sample
    from flink_kafka_spark.streaming.jobs import reservoir_stream

    m = 4
    rows = [(i, "a" if i % 3 else "b", 1 + (i % 5)) for i in range(60)]

    def run(subdir, seed=None):
        d = tmp_path / subdir
        d.mkdir()
        (d / "f.json").write_text(
            "\n".join(
                json.dumps({"rid": r[0], "stratum": r[1], "w": r[2]}) for r in rows
            )
            + "\n"
        )
        stream = spark.readStream.schema("rid long, stratum string, w int").json(str(d))
        seen: dict[int, list] = {}
        q = (
            reservoir_stream(
                stream,
                lambda df, e: seen.__setitem__(e, df.collect()),
                id_col="rid", weight_sql="w", stratum_col="stratum", m=m, seed=seed,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ck_{subdir}"))
            .start()
        )
        q.awaitTermination(120)
        return seen[max(seen)]

    first = run("orig")
    manifest = [(r["stratum"], r["rid"], r["wkey"]) for r in first]
    # replay the SAME rows into a monitor seeded with their manifest
    replayed = run("replay", seed=manifest)
    got = sorted((r["stratum"], r["rid"], r["wkey"], r["rank"]) for r in replayed)
    whole = spark.createDataFrame(rows, "rid long, stratum string, w int")
    want = sorted(
        (r["stratum"], r["rid"], r["wkey"], r["rank"])
        for r in weighted_sample(whole, "rid", "w", "stratum", m).collect()
    )
    assert got == want  # no id occupies two ranks, nothing evicted


@pytest.mark.slow  # slow tier (r19): batch kll bounds pytest stays default
def test_kll_stream_exact_below_k_bounded_above_and_restarts(spark, tmp_path):
    """The KLL monitor's contract: streamed quantiles for a set whose
    total count stays <= k are EXACT order statistics equal to the
    batch rollup under any batch split; a big set's streamed quantiles
    respect the sketch's normalized-rank bound; and the sketch-bytes
    snapshot seeds a restarted monitor to the same guarantees."""
    import bisect
    import json
    import math

    from flink_kafka_spark.operators.sketches import kll_quantile_rollup
    from flink_kafka_spark.streaming.jobs import kll_stream

    qs = (0.5, 0.95, 0.99)
    k = 200
    small = [("small", float(v)) for v in range(1, 41)]
    big = [("big", float((i * i) % 997)) for i in range(6000)]
    rows_a = small[:25] + big[:2500]
    rows_b = small[25:] + big[2500:]

    def replay(chunks, subdir):
        d = tmp_path / subdir
        d.mkdir()
        for fi, rows in enumerate(chunks):
            (d / f"f{fi}.json").write_text(
                "\n".join(json.dumps({"s": s, "v": v}) for s, v in rows) + "\n"
            )
        return (
            spark.readStream.schema("s string, v double")
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )

    def run(stream, ckpt, seed=None):
        seen: dict[int, list] = {}
        snaps: dict[int, dict] = {}
        q = (
            kll_stream(
                stream,
                lambda df, e: seen.__setitem__(e, df.collect()),
                set_col="s", val_col="v", quantiles=qs, k=k, seed=seed,
                sketch_snapshot=lambda st, e: snaps.__setitem__(e, st),
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.awaitTermination(120)
        return seen[max(seen)], snaps[max(snaps)]

    def exact_q(vals, q):
        return sorted(vals)[math.ceil(q * len(vals)) - 1]

    def check(final):
        got = {r["s"]: r for r in final}
        # exact path: below-k set == exact order stats == batch rollup
        assert got["small"]["n_vals"] == 40
        whole = spark.createDataFrame(
            [(s, 0, v) for s, v in small + big], "s string, sub int, v double"
        )
        batch = {
            r["s"]: r for r in kll_quantile_rollup(whole, "s", "sub", "v", qs).collect()
        }
        for q in qs:
            nm = f"q_{f'{q * 100:g}'.replace('.', '_')}"
            assert got["small"][nm] == exact_q([v for _, v in small], q)
            assert got["small"][nm] == batch["small"][nm]
        # bounded path: big set within the normalized-rank band
        big_sorted = sorted(v for _, v in big)
        assert got["big"]["n_vals"] == len(big)
        for q in qs:
            nm = f"q_{f'{q * 100:g}'.replace('.', '_')}"
            rank = bisect.bisect_right(big_sorted, got["big"][nm]) / len(big)
            assert abs(rank - q) < 0.03, (q, got["big"][nm], rank)

    final, _ = run(replay([rows_a, rows_b], "ab"), "ck_ab")
    check(final)

    # restart: snapshot after A seeds a fresh monitor fed only B
    _, snap_a = run(replay([rows_a], "a"), "ck_a")
    seeded_final, _ = run(
        replay([rows_b], "b"), "ck_b", seed=list(snap_a.items())
    )
    check(seeded_final)


class _Monitor(NamedTuple):
    """One stateful monitor fed 30 rows of ``row(i)`` in one epoch:
    ``measure(rows, snap)`` reads the emitted rows and the last
    snapshot-hook state, and equals ``want`` only when the epoch was
    merged exactly once; ``payload(rows, snap)`` is the restart seed."""

    schema: str
    row: Callable
    build: Callable  # (stream, sink, seed, hook) -> DataStreamWriter
    measure: Callable
    want: object
    payload: Callable
    hooked: bool  # has a snapshot hook; else the emitted frame is the state


_MONITORS = {
    "heavy_hitters": _Monitor(
        "key string",
        lambda i: {"key": f"k{i % 3}"},
        lambda st, sink, seed, hook: jobs.heavy_hitters_stream(
            st, sink, col="key", k=8, seed=seed
        ),
        lambda rows, snap: (rows[0]["n_seen"], {r["item"]: r["est"] for r in rows}),
        (30, {"k0": 10, "k1": 10, "k2": 10}),
        lambda rows, snap: ({r["item"]: r["est"] for r in rows}, rows[0]["n_seen"]),
        False,
    ),
    "cms": _Monitor(
        "key string",
        lambda i: {"key": "mega"},
        lambda st, sink, seed, hook: jobs.cms_stream(
            st, sink, col="key", watch=["mega"], width=64, depth=3,
            seed=seed, counter_snapshot=hook,
        ),
        lambda rows, snap: (rows[0]["n_seen"], rows[0]["est_c"], snap[1]),
        (30, 30, 30),
        lambda rows, snap: tuple(snap),
        True,
    ),
    "reservoir": _Monitor(
        "rid long, stratum string, w int",
        lambda i: {"rid": i, "stratum": "a", "w": 1 + i % 5},
        lambda st, sink, seed, hook: jobs.reservoir_stream(
            st, sink, id_col="rid", weight_sql="w", stratum_col="stratum",
            m=64, seed=seed,
        ),
        lambda rows, snap: sorted(r["rank"] for r in rows),
        list(range(1, 31)),
        lambda rows, snap: [(r["stratum"], r["rid"], r["wkey"]) for r in rows],
        False,
    ),
    "kmv": _Monitor(
        "s string, v string",
        lambda i: {"s": "a", "v": f"v{i}"},
        lambda st, sink, seed, hook: jobs.kmv_stream(
            st, sink, set_col="s", val_sql="v", k=64, seed=seed
        ),
        lambda rows, snap: (len(rows), rows[0]["est"]),
        (30, 30),
        lambda rows, snap: [(r["s"], r["h"]) for r in rows],
        False,
    ),
    "kll": _Monitor(
        "s string, v double",
        lambda i: {"s": "a", "v": float(i)},
        lambda st, sink, seed, hook: jobs.kll_stream(
            st, sink, set_col="s", val_col="v", k=64, seed=seed,
            sketch_snapshot=hook,
        ),
        # exact path (30 < k): rank ceil(0.5*30)-1 of 0..29 -> 14.0
        lambda rows, snap: (rows[0]["n_vals"], rows[0]["q_50"]),
        (30, 14.0),
        lambda rows, snap: list(snap[0].items()),
        True,
    ),
    "dq": _Monitor(
        "event_type string, value double",
        lambda i: {"event_type": "a", "value": None if i % 3 else float(i)},
        lambda st, sink, seed, hook: jobs.dq_monitor_stream(
            st, sink, (("completeness", "value"),), seed=seed, state_snapshot=hook
        ),
        lambda rows, snap: (snap[0]["n"], snap[0]["nn:value"], rows[0]["metric"]),
        (30, 10, 0.333333),
        lambda rows, snap: snap[0],
        True,
    ),
    "centroid_drift": _Monitor(
        "label string, embedding array<float>",
        lambda i: {"label": "a", "embedding": [1.0, float(i)]},
        lambda st, sink, seed, hook: jobs.centroid_drift_stream(
            st, sink, seed=seed, state_snapshot=hook
        ),
        lambda rows, snap: (rows[0]["n_vecs"], snap[0][("a", 0)]),
        (30, (30_000_000, 30)),
        lambda rows, snap: snap[0],
        True,
    ),
    "t_closeness": _Monitor(
        "q string, s bigint",
        lambda i: {"q": "a", "s": i % 3},
        lambda st, sink, seed, hook: jobs.t_closeness_stream(
            st, sink, quasi_cols=["q"], sensitive_col="s", seed=seed,
            state_snapshot=hook,
        ),
        lambda rows, snap: (rows[0]["class_size"], sum(snap[0].values())),
        (30, 30),
        lambda rows, snap: snap[0],
        True,
    ),
}


def _monitor_writer(spark, tmp_path, case, sink, seed, hook):
    """``case``'s monitor over one 30-row file, availableNow on the
    test's checkpoint — the same source and checkpoint every call."""
    import json

    d = tmp_path / "in"
    if not d.exists():
        d.mkdir()
        (d / "f0.json").write_text(
            "\n".join(json.dumps(case.row(i)) for i in range(30)) + "\n"
        )
    stream = spark.readStream.schema(case.schema).json(str(d))
    return (
        case.build(stream, sink, seed, hook)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )


@pytest.mark.parametrize("monitor", list(_MONITORS))
def test_kll_stream_replay_after_sink_crash_merges_once(spark, tmp_path, monitor):
    """foreachBatch retries a failed epoch with the SAME epoch_id, and
    most monitor merges are not idempotent (Misra-Gries and Count-Min
    counters, KLL compaction, counter sums): every monitor must absorb
    the redelivery — state is merged before the sink runs, and the
    retried epoch re-emits without re-merging, so the state after the
    crash-restart counts the input once, not twice."""
    case = _MONITORS[monitor]
    seen: dict[int, list] = {}
    snaps: dict[int, tuple] = {}
    calls = {"n": 0}

    def crashing_sink(df, epoch_id):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("sink outage")
        seen[epoch_id] = df.collect()

    def hook(*args):
        snaps[args[-1]] = args[:-1]

    writer = _monitor_writer(spark, tmp_path, case, crashing_sink, None, hook)
    q = writer.start()
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the sink outage fails the first attempt
    q2 = writer.start()  # same closure state, same checkpoint
    q2.awaitTermination(120)
    assert calls["n"] >= 2 and len(seen) == 1
    last = max(seen)
    assert case.measure(seen[last], snaps.get(last)) == case.want  # merged once


@pytest.mark.parametrize("monitor", list(_MONITORS))
def test_monitor_restart_seeded_with_snapshot_merges_once(spark, tmp_path, monitor):
    """The restart contract on the SAME checkpoint: the process dies
    after the epoch merged and its state was handed out (by the
    snapshot hook, or by the sink where the emitted frame is the
    state), but before Spark committed the epoch. A NEW monitor seeded
    with ``Snapshot(epoch, payload)`` gets that epoch redelivered and
    must not merge it again."""
    from pyspark.errors import StreamingQueryException

    from flink_kafka_spark.streaming.jobs import Snapshot

    case = _MONITORS[monitor]
    seen: dict[int, list] = {}
    snaps: dict[int, tuple] = {}
    crash = {"on": True}

    def sink(df, epoch_id):
        seen[epoch_id] = df.collect()
        if crash["on"] and not case.hooked:
            raise RuntimeError("process dies after the sink")

    def hook(*args):
        snaps[args[-1]] = args[:-1]
        if crash["on"]:
            raise RuntimeError("process dies after the snapshot")

    q = _monitor_writer(spark, tmp_path, case, sink, None, hook).start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    crash["on"] = False
    (epoch,) = seen
    seed = Snapshot(epoch, case.payload(seen[epoch], snaps.get(epoch)))
    seen.clear()
    q2 = _monitor_writer(spark, tmp_path, case, sink, seed, hook).start()
    q2.awaitTermination(120)
    assert list(seen) == [epoch]  # the same epoch, redelivered
    assert case.measure(seen[epoch], snaps.get(epoch)) == case.want


@pytest.mark.slow  # slow tier (r19): batch dq_expectations oracle + the remaining restart twins stay default
def test_dq_monitor_stream_row_identical_to_batch_and_restarts(spark, tmp_path):
    """The DQ monitor's counters (integer sums, running extrema) merge
    exactly, so after ANY batch split the final emitted frame must be
    ROW-IDENTICAL to the batch run_expectations audit over the
    concatenated input — including the terminal rounding, since both
    surfaces evaluate the same Spark round(num/den, 6) expression. A
    mid-stream snapshot seeds a restarted monitor to the same frame,
    and a redelivered epoch re-emits without re-merging."""
    import json

    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.dq import (
        accepted_values,
        completeness,
        max_value,
        min_value,
        run_expectations,
    )
    from flink_kafka_spark.streaming.jobs import dq_monitor_stream

    # crafted rows: NULL values, out-of-set types, known extrema
    rows = [
        ("a", 1.5), ("b", None), ("a", -2.0), ("zz", 9.75), ("b", 4.25),
        (None, 3.0), ("a", None), ("b", 0.125), ("a", 7.0), ("zz", -1.25),
    ]
    spec = (
        ("completeness", "value"),
        ("completeness", "event_type"),
        ("min", "value", -10.0),
        ("max", "value", 5.0),          # 9.75 > 5 -> failing check
        ("accepted", "event_type", ("a", "b")),
    )

    def replay(chunks, subdir):
        d = tmp_path / subdir
        d.mkdir()
        for fi, ch in enumerate(chunks):
            (d / f"f{fi}.json").write_text(
                "\n".join(json.dumps({"event_type": t, "value": v}) for t, v in ch)
                + "\n"
            )
        return (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )

    def run(chunks, subdir, seed=None):
        seen, snaps = {}, {}
        q = (
            dq_monitor_stream(
                replay(chunks, subdir),
                lambda df, e: seen.__setitem__(e, sorted(map(tuple, df.collect()))),
                spec,
                seed=seed,
                state_snapshot=lambda st, e: snaps.__setitem__(e, st),
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / (subdir + "_ckpt")))
            .start()
        )
        q.awaitTermination(120)
        return seen, snaps

    batch_df = spark.createDataFrame(rows, "event_type string, value double")
    batch = sorted(
        map(
            tuple,
            run_expectations(
                batch_df,
                [
                    completeness("value"),
                    completeness("event_type"),
                    min_value("value", -10.0),
                    max_value("value", 5.0),
                    accepted_values("event_type", ("a", "b")),
                ],
            ).collect(),
        )
    )

    # three uneven splits, same final frame
    for i, split in enumerate(([3, 7], [5, 5], [1, 2, 7])):
        chunks, at = [], 0
        for w in split:
            chunks.append(rows[at : at + w])
            at += w
        seen, snaps = run(chunks, f"s{i}")
        assert seen[max(seen)] == batch, f"split {split} diverged from batch"

    # the failing max check is genuinely failing, the others passing
    by_name = {r[0]: r for r in batch}
    assert by_name["max:value"][4] == 0 and by_name["max:value"][1] == 9.75
    assert by_name["min:value"][4] == 1
    assert by_name["accepted:event_type"][4] == 0  # 'zz' rows off-contract

    # restart parity: seed from the first chunk's snapshot, replay the rest
    seen_a, snaps_a = run([rows[:4]], "ra")
    seen_b, _ = run([rows[4:]], "rb", seed=snaps_a[max(snaps_a)])
    assert seen_b[max(seen_b)] == batch

    # replay guard, driven for real (the kll_stream crash-replay
    # shape): the first sink call dies AFTER state merged, foreachBatch
    # redelivers the SAME epoch_id on restart, and the guard must
    # re-EMIT without re-merging — n stays 4, never 8, and the
    # re-emitted frame equals a clean run's
    import json as _json

    d = tmp_path / "rg"
    d.mkdir()
    (d / "f0.json").write_text(
        "\n".join(
            _json.dumps({"event_type": et, "value": v}) for et, v in rows[:4]
        )
        + "\n"
    )
    g_stream = spark.readStream.schema("event_type string, value double").json(str(d))
    g_seen: dict[int, list] = {}
    g_snaps: dict[int, dict] = {}
    calls = {"n": 0}

    def crashing_sink(df, epoch_id):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("sink outage")
        g_seen[epoch_id] = sorted(map(tuple, df.collect()))

    writer = (
        dq_monitor_stream(
            g_stream,
            crashing_sink,
            spec,
            state_snapshot=lambda st, e: g_snaps.__setitem__(e, dict(st)),
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_rg"))
    )
    q = writer.start()
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the planted outage fails attempt one, state already merged
    q2 = writer.start()  # same closure state, same checkpoint -> same epoch_id
    q2.awaitTermination(120)
    assert calls["n"] >= 2 and len(g_seen) == 1
    assert g_snaps[max(g_snaps)]["n"] == 4  # merged once, not twice
    clean, _ = run([rows[:4]], "rg_clean")
    assert g_seen[max(g_seen)] == clean[max(clean)]


def test_dq_monitor_stream_grouped_matches_batch_grouped(spark, tmp_path):
    """group_col parity: the grouped monitor's final frame equals the
    batch run_expectations(group_cols=[...]) audit over the
    concatenated input, and a grouped snapshot seeds a restart to the
    same frame (NULL group values form their own group)."""
    import json

    from flink_kafka_spark.operators.dq import (
        accepted_values,
        completeness,
        max_value,
        run_expectations,
    )
    from flink_kafka_spark.streaming.jobs import dq_monitor_stream

    rows = [
        ("s1", "a", 1.0), ("s1", "b", 9.0), ("s1", None, None),
        ("s2", "a", 2.0), ("s2", "zz", 3.0),
        (None, "b", 4.0), (None, "b", 11.0),
        ("s1", "a", 5.0), ("s2", "b", None),
    ]
    spec = (
        ("completeness", "value"),
        ("max", "value", 10.0),
        ("accepted", "event_type", ("a", "b")),
    )

    def replay(chunks, subdir):
        d = tmp_path / subdir
        d.mkdir()
        for fi, ch in enumerate(chunks):
            (d / f"f{fi}.json").write_text(
                "\n".join(
                    json.dumps({"src": s, "event_type": t, "value": v})
                    for s, t, v in ch
                )
                + "\n"
            )
        return (
            spark.readStream.schema("src string, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )

    def run(chunks, subdir, seed=None):
        seen, snaps = {}, {}
        q = (
            dq_monitor_stream(
                replay(chunks, subdir),
                lambda df, e: seen.__setitem__(e, list(map(tuple, df.collect()))),
                spec,
                seed=seed,
                state_snapshot=lambda st, e: snaps.__setitem__(e, st),
                group_col="src",
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / (subdir + "_ckpt")))
            .start()
        )
        q.awaitTermination(120)
        return seen, snaps

    batch_df = spark.createDataFrame(rows, "src string, event_type string, value double")
    batch = sorted(
        map(
            tuple,
            run_expectations(
                batch_df,
                [
                    completeness("value"),
                    max_value("value", 10.0),
                    accepted_values("event_type", ("a", "b")),
                ],
                group_cols=["src"],
            ).collect(),
        ),
        key=lambda t: (t[0] is not None, t),
    )

    def norm(frame_rows):
        return sorted(frame_rows, key=lambda t: (t[0] is not None, t))

    seen, snaps = run([rows[:4], rows[4:]], "g0")
    assert norm(seen[max(seen)]) == batch

    # the NULL-src group genuinely fails max:value (11.0 > 10)
    null_rows = {t[1]: t for t in batch if t[0] is None}
    assert null_rows["max:value"][5] == 0

    # grouped restart parity
    seen_a, snaps_a = run([rows[:5]], "ga")
    seen_b, _ = run([rows[5:]], "gb", seed=snaps_a[max(snaps_a)])
    assert norm(seen_b[max(seen_b)]) == batch


def test_dq_monitor_stream_non_string_group_type(spark, tmp_path):
    """r13 advisory: a non-string group column (an int shard id) must
    emit cleanly when its Spark SQL type is named via group_type — the
    centroid_drift_stream convention — and the emitted group column
    must carry that type."""
    import json

    from flink_kafka_spark.streaming.jobs import dq_monitor_stream

    rows = [(0, 1.0), (0, None), (1, 3.0), (1, 4.0), (2, None)]
    d = tmp_path / "ints"
    d.mkdir()
    (d / "f0.json").write_text(
        "\n".join(json.dumps({"shard": s, "value": v}) for s, v in rows) + "\n"
    )
    stream = spark.readStream.schema("shard bigint, value double").json(str(d))
    seen = {}

    def sink(df, e):
        assert dict(df.dtypes)["shard"] == "bigint"
        seen[e] = sorted(map(tuple, df.collect()))

    q = (
        dq_monitor_stream(
            stream,
            sink,
            (("completeness", "value"),),
            group_col="shard",
            group_type="bigint",
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_ints"))
        .start()
    )
    q.awaitTermination(120)
    got = {t[0]: t for t in seen[max(seen)]}
    assert got[0][2] == 0.5 and got[1][2] == 1.0 and got[2][2] == 0.0
    assert got[1][5] == 1 and got[0][5] == 0  # completeness bound 1.0


def test_dq_merge_extreme_matches_spark_nan_ordering(spark):
    """r13 advisory: Python min()/max() are order-dependent under NaN.
    The monitor's cross-batch merge must follow Spark's ordering (NaN
    greater than any double) in BOTH argument orders, and agree with
    what Spark's min/max aggregates actually return on the same
    values."""
    import math

    from flink_kafka_spark.streaming.jobs import _merge_extreme

    nan = float("nan")
    for a, b in ((nan, 2.0), (2.0, nan)):
        assert math.isnan(_merge_extreme(a, b, "max"))
        assert _merge_extreme(a, b, "min") == 2.0
    assert math.isnan(_merge_extreme(nan, nan, "min"))
    assert _merge_extreme(1.0, 2.0, "max") == 2.0
    assert _merge_extreme(1.0, 2.0, "min") == 1.0

    # ground truth: Spark's own aggregate on the same column
    df = spark.createDataFrame([(2.0,), (float("nan"),)], "v double")
    (row,) = df.agg(F.min("v").alias("mn"), F.max("v").alias("mx")).collect()
    assert row["mn"] == 2.0 and math.isnan(row["mx"])


@pytest.mark.slow  # slow tier (r19): batch embedding_drift oracle + the remaining restart twins stay default
def test_centroid_drift_stream_row_identical_to_batch_and_restarts(spark, tmp_path):
    """The centroid monitor holds the batch operator's exact integer
    (group, dim) sums and scores them through the SAME
    centroid_drift_from_sums path, so the final frame must equal the
    batch centroid_drift over the concatenated vectors under any
    split, and a snapshot-seeded restart converges to the same frame."""
    import json

    from flink_kafka_spark.operators.similarity import centroid_drift
    from flink_kafka_spark.streaming.jobs import centroid_drift_stream

    dim = 8
    rows = [
        (f"s{i % 3}", [((i * 7 + j * 13) % 100) / 50.0 - 1.0 for j in range(dim)])
        for i in range(60)
    ]

    def replay(chunks, subdir):
        d = tmp_path / subdir
        d.mkdir()
        for fi, ch in enumerate(chunks):
            (d / f"f{fi}.json").write_text(
                "\n".join(json.dumps({"label": g, "embedding": v}) for g, v in ch)
                + "\n"
            )
        return (
            spark.readStream.schema("label string, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )

    def run(chunks, subdir, seed=None):
        seen, snaps = {}, {}
        q = (
            centroid_drift_stream(
                replay(chunks, subdir),
                lambda df, e: seen.__setitem__(e, sorted(map(tuple, df.collect()))),
                seed=seed,
                state_snapshot=lambda st, e: snaps.__setitem__(e, st),
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / (subdir + "_ckpt")))
            .start()
        )
        q.awaitTermination(120)
        return seen, snaps

    batch_df = spark.createDataFrame(rows, "label string, embedding array<float>")
    batch = sorted(map(tuple, centroid_drift(batch_df).collect()))

    for i, split in enumerate(([20, 40], [7, 23, 30])):
        chunks, at = [], 0
        for w in split:
            chunks.append(rows[at : at + w])
            at += w
        seen, _ = run(chunks, f"c{i}")
        assert seen[max(seen)] == batch, f"split {split} diverged"

    # restart parity from a mid-stream snapshot
    seen_a, snaps_a = run([rows[:25]], "ca")
    seen_b, _ = run([rows[25:]], "cb", seed=snaps_a[max(snaps_a)])
    assert seen_b[max(seen_b)] == batch


@pytest.mark.slow  # slow tier (r19): batch t_closeness oracle + the remaining restart twins stay default
def test_t_closeness_stream_row_identical_to_batch_and_restarts(spark, tmp_path):
    """The t-closeness monitor's state is the (class, value) cell
    count table — exact integer additions — and scoring runs the batch
    operator's own weight_col path over the rebuilt cells, so after
    ANY batch split the final emitted frame must be ROW-IDENTICAL to
    the batch gate over the concatenated input. A mid-stream snapshot
    seeds a restarted monitor to the same frame, and a redelivered
    epoch re-emits without re-merging."""
    import json

    from flink_kafka_spark.operators.sampling import t_closeness
    from flink_kafka_spark.streaming.jobs import t_closeness_stream

    # the hand-derived two-class corpus from test_properties (A fails
    # t=0.2 at 17/42, B at 17/56) plus a third class C that matches
    # the global distribution closely enough to pass
    rows = (
        [("A", v) for v in (1, 1, 2)]
        + [("B", v) for v in (2, 3, 3, 3)]
        + [("C", v) for v in (1, 1, 2, 2, 3, 3, 3)]
    )

    def replay(chunks, subdir):
        d = tmp_path / subdir
        d.mkdir()
        for fi, ch in enumerate(chunks):
            (d / f"f{fi}.json").write_text(
                "\n".join(json.dumps({"q": q, "s": s}) for q, s in ch) + "\n"
            )
        return (
            spark.readStream.schema("q string, s bigint")
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )

    def run(chunks, subdir, seed=None):
        seen, snaps = {}, {}
        q = (
            t_closeness_stream(
                replay(chunks, subdir),
                lambda df, e: seen.__setitem__(e, sorted(map(tuple, df.collect()))),
                quasi_cols=["q"],
                sensitive_col="s",
                t=0.2,
                seed=seed,
                state_snapshot=lambda st, e: snaps.__setitem__(e, st),
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / (subdir + "_ckpt")))
            .start()
        )
        q.awaitTermination(120)
        return seen, snaps

    batch_df = spark.createDataFrame(rows, "q string, s bigint")
    batch = sorted(map(tuple, t_closeness(batch_df, ["q"], "s", t=0.2).collect()))
    by_q = {r[0]: r for r in batch}
    assert by_q["A"][4] == 0 and by_q["B"][4] == 0  # hand-derived fails
    assert by_q["C"][4] == 1  # near-global class passes

    for i, split in enumerate(([7, 7], [3, 4, 7], [1, 6, 7])):
        chunks, at = [], 0
        for w in split:
            chunks.append(rows[at : at + w])
            at += w
        seen, _ = run(chunks, f"t{i}")
        assert seen[max(seen)] == batch, f"split {split} diverged from batch"

    # restart parity from a mid-stream snapshot
    seen_a, snaps_a = run([rows[:5]], "ta")
    seen_b, _ = run([rows[5:]], "tb", seed=snaps_a[max(snaps_a)])
    assert seen_b[max(seen_b)] == batch

    # replay guard, driven for real (the kll_stream crash-replay
    # shape): sink dies after the merge, the restart redelivers the
    # same epoch_id, and the guard re-emits without re-merging
    d = tmp_path / "trg"
    d.mkdir()
    (d / "f0.json").write_text(
        "\n".join(json.dumps({"q": q, "s": s}) for q, s in rows[:5]) + "\n"
    )
    g_stream = spark.readStream.schema("q string, s bigint").json(str(d))
    g_seen: dict[int, list] = {}
    g_snaps: dict[int, dict] = {}
    calls = {"n": 0}

    def crashing_sink(df, epoch_id):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("sink outage")
        g_seen[epoch_id] = sorted(map(tuple, df.collect()))

    writer = (
        t_closeness_stream(
            g_stream,
            crashing_sink,
            quasi_cols=["q"],
            sensitive_col="s",
            t=0.2,
            state_snapshot=lambda st, e: g_snaps.__setitem__(e, dict(st)),
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_trg"))
    )
    q = writer.start()
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # planted outage fails attempt one, state already merged
    q2 = writer.start()  # same closure state, same checkpoint -> same epoch
    q2.awaitTermination(120)
    assert calls["n"] >= 2 and len(g_seen) == 1
    # merged exactly once: the 5 replayed rows are A(1,1,2) + B(2,3)
    assert sum(g_snaps[max(g_snaps)].values()) == 5
    clean, _ = run([rows[:5]], "trg_clean")
    assert g_seen[max(g_seen)] == clean[max(clean)]


def test_monitor_streams_survive_null_group_keys(spark, tmp_path):
    """Spark groupBy keeps NULL-key groups, so the driver-side state
    dicts gain None keys: the kll and centroid-drift monitors must
    emit (None sorts via the None-safe key) instead of dying on
    'None < str', and a (group, pos) cell whose components are all
    NULL must merge as a no-op (SQL-sum semantics), not TypeError."""
    import json

    from flink_kafka_spark.streaming.jobs import centroid_drift_stream, kll_stream

    d = tmp_path / "nullkeys"
    d.mkdir()
    (d / "f0.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"s": None, "v": 3.0, "emb": [1.0, None]},
                {"s": "a", "v": 1.0, "emb": [0.5, 0.25]},
                {"s": "a", "v": 2.0, "emb": [0.5, None]},
            ]
        )
        + "\n"
    )

    def replay():
        return spark.readStream.schema(
            "s string, v double, emb array<double>"
        ).json(str(d))

    seen: dict[int, list] = {}
    q = (
        kll_stream(
            replay(),
            lambda df, e: seen.__setitem__(e, sorted(
                map(tuple, df.collect()), key=lambda t: (t[0] is None, t)
            )),
            set_col="s",
            val_col="v",
            k=200,
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_kll_null"))
        .start()
    )
    q.awaitTermination(120)
    final = seen[max(seen)]
    assert {row[0] for row in final} == {"a", None}

    seen2: dict[int, list] = {}
    q2 = (
        centroid_drift_stream(
            replay(),
            lambda df, e: seen2.__setitem__(e, sorted(
                map(tuple, df.collect()), key=lambda t: (t[0] is None, str(t[0]))
            )),
            group_col="s",
            vec_col="emb",
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_cd_null"))
        .start()
    )
    q2.awaitTermination(120)
    final2 = seen2[max(seen2)]
    assert {row[0] for row in final2} == {"a", None}


def test_reservoir_stream_non_long_id_type(spark, tmp_path):
    """id_type/stratum_type parity with dq_monitor_stream's group_type:
    a non-long numeric id and a non-string stratum (int shard ids)
    must emit cleanly instead of failing schema verification inside
    foreachBatch. (String ids stay out of contract: the A-Res key is
    arithmetic on the id — pre-hash to numeric first.)"""
    import json

    from flink_kafka_spark.streaming.jobs import reservoir_stream

    d = tmp_path / "res_int"
    d.mkdir()
    (d / "f0.json").write_text(
        "\n".join(
            json.dumps({"h": i, "shard": i % 2}) for i in range(20)
        )
        + "\n"
    )
    stream = spark.readStream.schema("h int, shard int").json(str(d))
    seen: dict[int, list] = {}
    q = (
        reservoir_stream(
            stream,
            lambda df, e: seen.__setitem__(e, sorted(map(tuple, df.collect()))),
            id_col="h",
            weight_sql="CAST(h + 1 AS DOUBLE)",
            stratum_col="shard",
            m=4,
            id_type="int",
            stratum_type="int",
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_res_int"))
        .start()
    )
    q.awaitTermination(120)
    final = seen[max(seen)]
    assert len(final) == 8  # 2 strata x m=4
    assert all(isinstance(r[0], int) and isinstance(r[1], int) for r in final)


def test_drift_monitor_catches_downward_shift(spark, tmp_path):
    """A batch whose values sit BELOW the reference's vmin is the
    classic downward drift; those rows must clamp into bucket 0 and
    drive PSI up, not vanish as negative bucket indices the 0..n-1
    grid join silently drops (which under-reported exactly the drift
    the monitor exists to alarm on)."""
    import json

    from flink_kafka_spark.streaming.jobs import drift_monitor_stream

    reference = spark.createDataFrame(
        [("k", 100.0 + i) for i in range(50)], "key string, value double"
    )
    d = tmp_path / "down"
    d.mkdir()
    (d / "f0.json").write_text(
        "\n".join(json.dumps({"key": "k", "value": 1.0 + i}) for i in range(50))
        + "\n"
    )
    stream = spark.readStream.schema("key string, value double").json(str(d))
    seen: dict[int, list] = {}
    q = (
        drift_monitor_stream(
            stream,
            reference,
            lambda df, e: seen.__setitem__(e, df.collect()),
            key_col="key",
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_down"))
        .start()
    )
    q.awaitTermination(120)
    (row,) = seen[max(seen)]
    assert row["n_batch"] == 50  # every shifted row counted, none dropped
    assert row["psi"] > 1.0  # total mass displacement alarms loudly


def test_media_phash_stream(spark, tmp_path):
    """Streaming media near-dup filter: two micro-batches of payloads
    against a static reference signature index — byte-copies of a
    reference payload come back non-novel, fresh payloads novel,
    sub-minimum payloads get NO verdict row, in BOTH batches; and the
    per-batch release_scope must leave no tracked persists behind."""
    import json as _json

    from flink_kafka_spark import caching
    from flink_kafka_spark.streaming.jobs import media_phash_stream

    mk = lambda seed, n=200: "".join(chr(32 + (i * seed) % 95) for i in range(n))
    reference = spark.createDataFrame(
        [(1, mk(7).encode()), (2, mk(11).encode())], "doc_id long, payload binary"
    )
    b = tmp_path / "in"
    b.mkdir()
    (b / "f0.json").write_text(
        _json.dumps({"doc_id": 10, "text": mk(7)}) + "\n"
        + _json.dumps({"doc_id": 11, "text": mk(13)}) + "\n"
    )
    (b / "f1.json").write_text(
        _json.dumps({"doc_id": 20, "text": mk(11)}) + "\n"
        + _json.dumps({"doc_id": 21, "text": "tiny"}) + "\n"
    )

    tracked_before = (len(caching._LIVE), len(caching._LIVE_RDDS))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .json(str(b))
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )
    seen: dict[int, list] = {}

    def sink(df, epoch_id):
        seen[epoch_id] = df.collect()

    q = media_phash_stream(stream, reference, sink).trigger(
        availableNow=True
    ).option("checkpointLocation", str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)

    assert len(seen) == 2  # one verdict frame per file
    verdicts = {r.doc_id: r for rows in seen.values() for r in rows}
    assert set(verdicts) == {10, 11, 20}  # 21 is unhashable: no row
    assert verdicts[10].is_novel == 0 and verdicts[10].best_ref_id == 1
    assert verdicts[10].best_hamming == 0  # verbatim payload copy
    assert verdicts[20].is_novel == 0 and verdicts[20].best_ref_id == 2
    assert verdicts[11].is_novel == 1 and verdicts[11].best_ref_id is None
    assert (len(caching._LIVE), len(caching._LIVE_RDDS)) == tracked_before


def test_winnow_decontaminate_stream(spark, tmp_path):
    """Streaming decontamination twin: two micro-batches of documents
    against a static eval fingerprint index — a doc copying an
    11-token run from an eval doc is flagged with the right
    best_eval_id in BOTH batches, clean docs emit nothing, the verdict
    rows are row-identical to the batch operator on the same docs, and
    the per-batch release_scope leaves no tracked persists behind."""
    import json as _json

    from flink_kafka_spark import caching
    from flink_kafka_spark.operators.text import (
        winnow_decontaminate,
        winnow_eval_index,
    )
    from flink_kafka_spark.streaming.jobs import winnow_decontaminate_stream

    leak_a = " ".join(f"la{i}" for i in range(11))
    leak_b = " ".join(f"lb{i}" for i in range(11))
    eval_df = spark.createDataFrame(
        [(100, "q " + leak_a + " a"), (101, "x " + leak_b + " y")],
        "doc_id long, text string",
    )
    b = tmp_path / "in"
    b.mkdir()
    (b / "f0.json").write_text(
        _json.dumps({"doc_id": 10, "text": "pre " + leak_a + " post"}) + "\n"
        + _json.dumps({"doc_id": 11, "text": " ".join(f"c{i}" for i in range(30))}) + "\n"
    )
    (b / "f1.json").write_text(
        _json.dumps({"doc_id": 20, "text": "alpha " + leak_b + " omega"}) + "\n"
        + _json.dumps({"doc_id": 21, "text": "too short"}) + "\n"
    )

    # stored-index production shape: fingerprint the eval set once
    idx = winnow_eval_index(eval_df).persist()
    idx.count()
    tracked_before = (len(caching._LIVE), len(caching._LIVE_RDDS))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(b))
    )
    seen: dict[int, list] = {}

    def sink(df, epoch_id):
        seen[epoch_id] = df.collect()

    q = (
        winnow_decontaminate_stream(stream, None, sink, eval_index=idx)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    assert len(seen) == 2
    flagged = {r.doc_id: r for rows in seen.values() for r in rows}
    assert set(flagged) == {10, 20}  # 11 clean, 21 below k tokens
    assert flagged[10].best_eval_id == 100
    assert flagged[20].best_eval_id == 101
    assert (len(caching._LIVE), len(caching._LIVE_RDDS)) == tracked_before

    # row-identity to the batch operator over the union of both batches
    union = spark.createDataFrame(
        [
            (10, "pre " + leak_a + " post"),
            (11, " ".join(f"c{i}" for i in range(30))),
            (20, "alpha " + leak_b + " omega"),
            (21, "too short"),
        ],
        "doc_id long, text string",
    )
    batch = {r.doc_id: tuple(r) for r in winnow_decontaminate(union, eval_df).collect()}
    assert batch == {k: tuple(v) for k, v in flagged.items()}
    idx.unpersist()


def test_winnow_decontaminate_multi_stream(spark, tmp_path):
    """Multi-benchmark streaming screen: two micro-batches against a
    stored two-benchmark index — a doc leaking from benchmark b0 is
    attributed to b0, one leaking from b1 to b1, a doc copying runs
    from BOTH benchmarks emits one evidence row per benchmark, clean
    docs emit nothing, and the hit rows are row-identical to the
    batch multi operator over the union of both batches."""
    import json as _json

    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.text import (
        winnow_decontaminate_multi,
        winnow_eval_index,
    )
    from flink_kafka_spark.streaming.jobs import winnow_decontaminate_multi_stream

    leak_a = " ".join(f"ma{i}" for i in range(11))
    leak_b = " ".join(f"mb{i}" for i in range(11))
    ev_a = spark.createDataFrame([(100, "q " + leak_a + " a")], "doc_id long, text string")
    ev_b = spark.createDataFrame([(200, "x " + leak_b + " y")], "doc_id long, text string")
    idx = (
        winnow_eval_index(ev_a).withColumn("bench_id", F.lit("b0"))
        .unionByName(winnow_eval_index(ev_b).withColumn("bench_id", F.lit("b1")))
        .persist()
    )
    idx.count()

    b = tmp_path / "in"
    b.mkdir()
    (b / "f0.json").write_text(
        _json.dumps({"doc_id": 10, "text": "pre " + leak_a + " post"}) + "\n"
        + _json.dumps({"doc_id": 11, "text": " ".join(f"c{i}" for i in range(30))}) + "\n"
    )
    (b / "f1.json").write_text(
        _json.dumps({"doc_id": 20, "text": "s " + leak_a + " m " + leak_b + " e"}) + "\n"
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(b))
    )
    seen: dict[int, list] = {}

    def sink(df, epoch_id):
        seen[epoch_id] = df.collect()

    q = (
        winnow_decontaminate_multi_stream(stream, idx, sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    assert len(seen) == 2
    hits = {(r.doc_id, r.bench_id): r for rows in seen.values() for r in rows}
    assert set(hits) == {(10, "b0"), (20, "b0"), (20, "b1")}
    assert hits[(10, "b0")].best_eval_id == 100
    assert hits[(20, "b0")].best_eval_id == 100
    assert hits[(20, "b1")].best_eval_id == 200

    union = spark.createDataFrame(
        [
            (10, "pre " + leak_a + " post"),
            (11, " ".join(f"c{i}" for i in range(30))),
            (20, "s " + leak_a + " m " + leak_b + " e"),
        ],
        "doc_id long, text string",
    )
    batch = sorted(map(tuple, winnow_decontaminate_multi(union, idx).collect()))
    streamed = sorted(tuple(r) for rows in seen.values() for r in rows)
    assert streamed == batch
    idx.unpersist()
