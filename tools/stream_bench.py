"""Wall-time datapoints for the four applyInPandasWithState paths:
login_fail / order_timeout / tx_match / blacklist replayed under
``trigger(availableNow)`` at sf0.1 volume (100k events, matching
events.parquet at that SF) into a noop sink. order_timeout also runs
in a steady state: 20 small micro-batches over ~3n/8 pending orders.

These rows have NO bench-baseline entry by policy (the frozen-baseline
guardrail skips new rows); they are recorded in README's bench section
as absolute datapoints plus a state-store sizing note.

Usage: python tools/stream_bench.py [n_rows]   (default 100_000)
Prints one JSON line: {"stream_bench": {name: sec, ...}, "n": n}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from flink_kafka_spark.schemas import (  # noqa: E402
    AD_CLICK,
    LOGIN_EVENT,
    ORDER_EVENT,
    RECEIPT_EVENT,
)
from flink_kafka_spark.session import get_spark  # noqa: E402
from flink_kafka_spark.streaming.sources import csv_replay_source  # noqa: E402
from flink_kafka_spark.streaming.stateful import (  # noqa: E402
    blacklist_stream,
    login_fail_stream,
    order_timeout_stream,
    tx_match_stream,
)

BASE_TS = 1_700_000_000


class PeakStateListener(StreamingQueryListener):
    """Accumulate per-query state-store maxima as progress events
    arrive. Scanning ``q.recentProgress`` after termination is lossy:
    Spark caps that buffer at spark.sql.streaming.
    numRecentProgressUpdates (~100 entries), so an availableNow replay
    with more micro-batches silently under-reports the peak."""

    def __init__(self) -> None:
        self.peaks: dict[str, dict] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        prog = json.loads(event.progress.json)
        peak = self.peaks.setdefault(
            str(prog["id"]), {"peak_state_rows": 0, "peak_state_bytes": 0}
        )
        for so in prog.get("stateOperators", []):
            peak["peak_state_rows"] = max(peak["peak_state_rows"], so.get("numRowsTotal", 0))
            peak["peak_state_bytes"] = max(
                peak["peak_state_bytes"], so.get("memoryUsedBytes", 0)
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.add(str(event.id))


def _await_or_kill(q, ckpt: str) -> None:
    """One wedged-query policy for every measured query: a query still
    running after 600 s would record 600 s as a real datapoint AND
    keep running under every later measurement — kill it and fail the
    tool loudly (shared by run_stream and run_monitor so the timeout
    handling cannot drift between them)."""
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"query on {ckpt} still running after 600 s")


def run_stream(df, ckpt: str, listener: PeakStateListener) -> dict:
    """Run to completion; return peak state-store metrics across ALL of
    the replay's micro-batches (rows + bytes from stateOperators),
    collected by the listener rather than the capped recentProgress."""
    q = (
        df.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_kill(q, ckpt)
    # listener events are delivered on a separate thread; wait for the
    # terminated event so every progress update has been folded in
    deadline = time.time() + 30
    while str(q.id) not in listener.terminated and time.time() < deadline:
        time.sleep(0.1)
    return dict(
        listener.peaks.get(str(q.id), {"peak_state_rows": 0, "peak_state_bytes": 0})
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    listener = PeakStateListener()
    spark.streams.addListener(listener)
    timings: dict[str, float] = {}
    state: dict[str, dict] = {}

    with tempfile.TemporaryDirectory() as tmp:
        # login: 200 users, ~75% fails, 200 events/s -> long fail chains
        login_src = os.path.join(tmp, "login")
        spark.range(n).select(
            F.concat_ws(
                ",",
                F.pmod("id", F.lit(200)).cast("string"),
                F.lit("ip"),
                F.when(F.pmod(F.xxhash64("id"), F.lit(4)) == 0, "success").otherwise("fail"),
                (F.lit(BASE_TS) + (F.col("id") / 200).cast("long")).cast("string"),
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(login_src)
        stream = csv_replay_source(spark, login_src, LOGIN_EVENT).withWatermark("ts", "1 second")
        t0 = time.perf_counter()
        state["login_fail_stream"] = run_stream(
            login_fail_stream(stream, max_gap_s=2), os.path.join(tmp, "ck_login"), listener
        )
        timings["login_fail_stream"] = round(time.perf_counter() - t0, 2)

        # orders: n/2 order ids; even ids create+pay, odd ids create only
        # (time out when the watermark passes create_ts + 900)
        order_src = os.path.join(tmp, "orders")
        ids = spark.range(n)
        creates = ids.filter(F.pmod("id", F.lit(2)) == 0).select(
            F.concat_ws(
                ",",
                (F.col("id") / 2).cast("long").cast("string"),
                F.lit("create"),
                F.lit(""),
                (F.lit(BASE_TS) + (F.col("id") / 100).cast("long")).cast("string"),
            ).alias("value")
        )
        pays = ids.filter(F.pmod("id", F.lit(4)) == 1).select(
            F.concat_ws(
                ",",
                ((F.col("id") - 1) / 2).cast("long").cast("string"),
                F.lit("pay"),
                F.concat(F.lit("tx"), F.col("id").cast("string")),
                (F.lit(BASE_TS) + (F.col("id") / 100).cast("long") + 30).cast("string"),
            ).alias("value")
        )
        creates.union(pays).repartition(4).write.mode("overwrite").text(order_src)
        stream = csv_replay_source(spark, order_src, ORDER_EVENT).withWatermark("ts", "1 second")
        t0 = time.perf_counter()
        state["order_timeout_stream"] = run_stream(
            order_timeout_stream(stream, timeout_s=900), os.path.join(tmp, "ck_order"), listener
        )
        timings["order_timeout_stream"] = round(time.perf_counter() - t0, 2)

        # steady state: n/2 orders within one 900 s timeout, three
        # quarters never paid (~3n/8 pending at once), then 20
        # micro-batches of 200 orders (one file per trigger) on the same
        # checkpoint. Only those 20 are timed: each carries the whole
        # pending set while touching few of its keys.
        steady_src = os.path.join(tmp, "steady")
        os.makedirs(steady_src)
        rate = n / 2 / 900  # creates per event-second

        def steady_file(name: str, ids: range, mtime: int) -> None:
            path = os.path.join(steady_src, name)
            with open(path, "w") as f:
                for i in ids:
                    ts = BASE_TS + int(i / rate)
                    f.write(f"{i},create,,{ts}\n")
                    if i % 4 == 1:  # a quarter pay 30 s later
                        f.write(f"{i},pay,tx{i},{ts + 30}\n")
            os.utime(path, (mtime, mtime))

        steady_file("backlog.csv", range(n // 2), 1)
        stream = csv_replay_source(
            spark, steady_src, ORDER_EVENT, max_files_per_trigger=1
        ).withWatermark("ts", "1 second")
        steady = order_timeout_stream(stream, timeout_s=900)
        run_stream(steady, os.path.join(tmp, "ck_steady"), listener)
        for b in range(20):
            lo = n // 2 + 200 * b
            steady_file(f"b{b:02d}.csv", range(lo, lo + 200), 2 + b)
        listener.terminated.clear()  # the restart keeps the query id
        t0 = time.perf_counter()
        state["order_timeout_steady_stream"] = run_stream(
            steady, os.path.join(tmp, "ck_steady"), listener
        )
        timings["order_timeout_steady_stream"] = round(time.perf_counter() - t0, 2)

        # tx reconciliation: half the txs get a receipt 5s later
        txo_src = os.path.join(tmp, "txo")
        txr_src = os.path.join(tmp, "txr")
        spark.range(n // 2).select(
            F.concat_ws(
                ",",
                F.col("id").cast("string"),
                F.lit("pay"),
                F.concat(F.lit("tx"), F.col("id").cast("string")),
                (F.lit(BASE_TS) + (F.col("id") / 100).cast("long")).cast("string"),
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(txo_src)
        spark.range(n // 2).filter(F.pmod("id", F.lit(2)) == 0).select(
            F.concat_ws(
                ",",
                F.concat(F.lit("tx"), F.col("id").cast("string")),
                F.lit("wechat"),
                (F.lit(BASE_TS) + (F.col("id") / 100).cast("long") + 5).cast("string"),
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(txr_src)
        orders = csv_replay_source(spark, txo_src, ORDER_EVENT).withWatermark("ts", "1 second")
        receipts = csv_replay_source(spark, txr_src, RECEIPT_EVENT).withWatermark("ts", "1 second")
        t0 = time.perf_counter()
        state["tx_match_stream"] = run_stream(
            tx_match_stream(orders, receipts), os.path.join(tmp, "ck_tx"), listener
        )
        timings["tx_match_stream"] = round(time.perf_counter() - t0, 2)

        # ad clicks: 100 users x 10 ads = 1000 keys, ~100 clicks per
        # (user, ad) -> threshold=100 exercises the warn-once
        # transition. ad must be an INDEPENDENT residue: id % 10 is
        # fully determined by id % 100, which would collapse the
        # keyspace to 100 keys at 10x the click density.
        click_src = os.path.join(tmp, "clicks")
        spark.range(n).select(
            F.concat_ws(
                ",",
                F.pmod("id", F.lit(100)).cast("string"),
                F.pmod(F.xxhash64("id"), F.lit(10)).cast("string"),
                F.lit("p"),
                F.lit("c"),
                (F.lit(BASE_TS) + (F.col("id") / 1000).cast("long")).cast("string"),
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(click_src)
        clicks = csv_replay_source(spark, click_src, AD_CLICK).withWatermark("ts", "1 second")
        t0 = time.perf_counter()
        state["blacklist_stream"] = run_stream(
            blacklist_stream(clicks, threshold=100), os.path.join(tmp, "ck_click"), listener
        )
        timings["blacklist_stream"] = round(time.perf_counter() - t0, 2)

        # exact streaming dedup (dropDuplicatesWithinWatermark): every
        # key delivered twice 1 s apart -> n/2 survivors; state = the
        # per-key-hash dedup store the watermark evicts
        from flink_kafka_spark.streaming.jobs import dedup_stream

        dedup_src = os.path.join(tmp, "dedup")
        spark.range(n).select(
            F.concat_ws(
                ",",
                F.pmod("id", F.lit(n // 2)).cast("string"),
                F.lit("ip"),
                F.lit("fail"),
                (
                    F.lit(BASE_TS)
                    + (F.pmod("id", F.lit(n // 2)) / 200).cast("long")
                    + F.when(F.col("id") >= n // 2, 1).otherwise(0)
                ).cast("string"),
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(dedup_src)
        stream = csv_replay_source(spark, dedup_src, LOGIN_EVENT)
        t0 = time.perf_counter()
        state["dedup_stream"] = run_stream(
            dedup_stream(stream, ["user_id"], delay="10 seconds"),
            os.path.join(tmp, "ck_dedup"),
            listener,
        )
        timings["dedup_stream"] = round(time.perf_counter() - t0, 2)

        # native session windows (session_window merge state): 2000
        # users, 5-event sessions at 60 s spacing separated by 1 h
        # gaps; watermark closes sessions as the replay advances, so
        # peak state = concurrently-open sessions, not total sessions
        from flink_kafka_spark.streaming.jobs import session_stats_stream

        sess_src = os.path.join(tmp, "sessions")
        seq = (F.col("id") / 2000).cast("long")
        spark.range(n).select(
            F.concat_ws(
                ",",
                F.pmod("id", F.lit(2000)).cast("string"),
                F.lit("ip"),
                F.lit("fail"),
                (
                    F.lit(BASE_TS)
                    + (seq / 5).cast("long") * 3600
                    + F.pmod(seq, F.lit(5)) * 60
                ).cast("string"),
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(sess_src)
        stream = csv_replay_source(spark, sess_src, LOGIN_EVENT)
        t0 = time.perf_counter()
        state["session_stats_stream"] = run_stream(
            session_stats_stream(stream, gap="10 minutes", delay="1 second"),
            os.path.join(tmp, "ck_sess"),
            listener,
        )
        timings["session_stats_stream"] = round(time.perf_counter() - t0, 2)

        # --- sketch/sample monitor family (round 11 verdict item 4) ---
        # foreachBatch monitors: state lives driver-side as a sketch,
        # so the metric is the PEAK EMITTED MANIFEST (rows = the whole
        # driver state), not stateOperators. Each input is written as
        # 4 files replayed one per trigger -> 4 micro-batches, so the
        # driver-side merge path runs, not just the batch sketch.
        from flink_kafka_spark.streaming.jobs import (
            cms_stream,
            heavy_hitters_stream,
            centroid_drift_stream,
            dq_monitor_stream,
            kll_stream,
            kmv_stream,
            reservoir_stream,
            t_closeness_stream,
        )

        def run_monitor(writer, ckpt: str, peak: dict) -> None:
            q = (
                writer.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_or_kill(q, ckpt)
            assert not peak.get("err"), peak["err"]

        def manifest_sink(peak: dict):
            def sink(df, epoch_id: int) -> None:
                try:
                    peak["manifest_rows"] = max(peak.get("manifest_rows", 0), df.count())
                except Exception as exc:  # surface sink failures loudly
                    peak["err"] = repr(exc)

            return sink

        # skewed keys in the ip column: 20 hot keys carry ~30% of the
        # stream, the tail spreads over ~50k keys — the regime where
        # exact per-key counting state would be 50k rows but the MG/CM
        # sketches stay at k / depth*width entries
        mon_src = os.path.join(tmp, "monitor")
        key = F.when(
            F.pmod(F.xxhash64("id"), F.lit(10)) < 3, F.pmod("id", F.lit(20))
        ).otherwise(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(50_000)) + 1000)
        spark.range(n).select(
            F.concat_ws(
                ",",
                F.col("id").cast("string"),  # unique user_id (reservoir contract)
                F.concat(F.lit("k"), key.cast("string")),  # sketch key in ip
                F.when(F.pmod("id", F.lit(2)) == 0, "fail").otherwise("success"),
                (F.lit(BASE_TS) + (F.col("id") / 200).cast("long")).cast("string"),
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(mon_src)

        monitors = {
            "heavy_hitters_stream": lambda s, peak: heavy_hitters_stream(
                s, manifest_sink(peak), col="ip", k=16
            ),
            "cms_stream": lambda s, peak: cms_stream(
                s, manifest_sink(peak), col="ip",
                watch=[f"k{i}" for i in range(20)], width=512, depth=4,
            ),
            "reservoir_stream": lambda s, peak: reservoir_stream(
                s, manifest_sink(peak), id_col="user_id",
                weight_sql="CAST(pmod(user_id, 97) + 1 AS DOUBLE)",
                stratum_col="login_state", m=64,
            ),
            "kmv_stream": lambda s, peak: kmv_stream(
                s, manifest_sink(peak), set_col="login_state",
                val_sql="CAST(user_id AS STRING)", k=128,
            ),
            # quantiles of a numeric stream per set: user_id mod 997 as
            # the value domain (the same ~uniform shape the batch
            # rollup's rank-bound pytest plants)
            "kll_stream": lambda s, peak: kll_stream(
                s.withColumn("v", F.pmod("user_id", F.lit(997)).cast("double")),
                manifest_sink(peak), set_col="login_state", val_col="v", k=200,
            ),
            # embedding-centroid drift: synthesize an 8-dim vector from
            # the user id so the monitor's explode+sum path runs at
            # stream volume; state = 2 strata x 8 dims of long pairs
            "centroid_drift_stream": lambda s, peak: centroid_drift_stream(
                s.withColumn(
                    "embedding",
                    F.expr(
                        "transform(sequence(0, 7), j -> CAST(pmod(xxhash64("
                        "user_id, j), 200) AS FLOAT) / 100.0 - 1.0)"
                    ),
                ),
                manifest_sink(peak), group_col="login_state",
            ),
            # the ingest-contract monitor: one distributed agg per
            # micro-batch, driver state = one number per counter
            "dq_monitor_stream": lambda s, peak: dq_monitor_stream(
                s, manifest_sink(peak),
                spec=(
                    ("completeness", "user_id"),
                    ("completeness", "login_state"),
                    ("min", "user_id", 0.0),
                    ("max", "user_id", 1e12),
                    ("accepted", "login_state", ("fail", "success")),
                ),
            ),
            # the privacy-gate monitor: per-class sensitive-value
            # distribution vs the corpus; user_id mod 20 as the band
            # domain, driver state = 2 classes x 20 bands of longs
            "t_closeness_stream": lambda s, peak: t_closeness_stream(
                s.withColumn("band", F.pmod("user_id", F.lit(20)).cast("long")),
                manifest_sink(peak), quasi_cols=["login_state"],
                sensitive_col="band",
            ),
        }
        for name, build in monitors.items():
            stream = csv_replay_source(
                spark, mon_src, LOGIN_EVENT, max_files_per_trigger=1
            )
            peak: dict = {}
            t0 = time.perf_counter()
            run_monitor(build(stream, peak), os.path.join(tmp, f"ck_{name}"), peak)
            timings[name] = round(time.perf_counter() - t0, 2)
            state[name] = {"driver_manifest_rows": peak.get("manifest_rows", 0)}

        # --- streaming media near-dup filter ---
        # the media twin of incremental dedup: ~n/50 payloads (~180 B
        # each) replayed in 4 micro-batches against a 1000-payload
        # reference whose signature index is hashed ONCE before the
        # stream starts (the stored-index pattern); half of each batch
        # byte-collides with a reference payload (is_novel=0), half is
        # fresh. Metric: wall time + the per-batch verdict-frame peak
        # through the same manifest sink the monitors use.
        from flink_kafka_spark.streaming.jobs import media_phash_stream

        def _payload(key):
            # deterministic ~180-byte payload, distinct per key value,
            # >= PHASH_MIN_BYTES so every row is hashable
            return F.concat_ws(
                "-",
                F.lit("payload"),
                key.cast("string"),
                F.repeat(F.concat(F.lit("x"), F.md5(key.cast("string"))), 5),
            )

        media_n = max(n // 50, 2_000)
        media_src = os.path.join(tmp, "media")
        mkey = F.pmod(F.xxhash64("id"), F.lit(2000))
        spark.range(media_n).select(
            F.to_json(
                F.struct(F.col("id").alias("doc_id"), _payload(mkey).alias("text"))
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(media_src)
        ref = spark.range(1000).select(
            F.col("id").alias("doc_id"),
            F.encode(_payload(F.col("id")), "UTF-8").alias("payload"),
        )
        media_stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(media_src)
            .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
        )
        peak = {}
        t0 = time.perf_counter()
        run_monitor(
            media_phash_stream(media_stream, ref, manifest_sink(peak)),
            os.path.join(tmp, "ck_media_phash"),
            peak,
        )
        timings["media_phash_stream"] = round(time.perf_counter() - t0, 2)
        state["media_phash_stream"] = {
            "peak_batch_verdicts": peak.get("manifest_rows", 0)
        }

        # streaming winnow decontamination: document feed vs a stored
        # eval fingerprint index (the text twin of the media filter).
        # Half of each batch embeds a verbatim 19-token run lifted
        # from one of 500 eval docs (>= w + k - 1, so the guarantee
        # fires); the other half is clean disjoint vocabulary.
        from flink_kafka_spark.operators.text import winnow_eval_index
        from flink_kafka_spark.streaming.jobs import winnow_decontaminate_stream

        def _run(tag, key):
            # 19 shard-tagged tokens — the verbatim run documents share
            return F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"{tag}t{i}e"), key.cast("string"))
                    for i in range(19)
                ],
            )

        doc_n = max(n // 50, 2_000)
        eval_docs = spark.range(500).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ", F.lit("evalhead"), _run("ev", F.col("id")), F.lit("evaltail")
            ).alias("text"),
        )
        dkey = F.pmod(F.xxhash64("id"), F.lit(500))
        leaky = F.concat_ws(" ", F.lit("pre"), _run("ev", dkey), F.lit("post"))
        clean = _run("cl", F.col("id"))
        docs_src = os.path.join(tmp, "decon_docs")
        spark.range(doc_n).select(
            F.to_json(
                F.struct(
                    F.col("id").alias("doc_id"),
                    F.when(F.pmod("id", F.lit(2)) == 0, leaky)
                    .otherwise(clean)
                    .alias("text"),
                )
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(docs_src)
        # stored-index production shape: fingerprint the eval set once
        idx = winnow_eval_index(eval_docs).persist()
        idx.count()
        docs_stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(docs_src)
        )
        peak = {}
        t0 = time.perf_counter()
        run_monitor(
            winnow_decontaminate_stream(
                docs_stream, None, manifest_sink(peak), eval_index=idx
            ),
            os.path.join(tmp, "ck_winnow_decon"),
            peak,
        )
        timings["winnow_decontaminate_stream"] = round(time.perf_counter() - t0, 2)
        state["winnow_decontaminate_stream"] = {
            "peak_batch_flagged": peak.get("manifest_rows", 0)
        }
        idx.unpersist()

    print(json.dumps({"stream_bench": timings, "state": state, "n": n}))


if __name__ == "__main__":
    main()
