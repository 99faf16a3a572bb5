"""Stateful streaming operators (SURVEY.md §2.10 T1-T5, §2.9 J2) via
``applyInPandasWithState`` — per-key state + event-time timeouts, the
Spark analog of Flink's KeyedProcessFunction/CoProcessFunction/CEP.

Semantics ported (and cited) from the reference:
- login-fail: LoginFail.java:126-170 (event-driven variant: each fail
  compared with the previous fail, success clears) and the CEP twin
  LoginFailWithCep.java:52-97 (strict contiguity `next` + within 2s);
- order timeout: OrderTimeOutOnProcess.java:63-146 (four outcome
  states, out-of-order create/pay both directions, timer at
  create + timeout);
- tx reconciliation: TxPayMatch.java:82-141 (first-arriving side
  waits in state; match emits pair; event-time timers divert
  unmatched pays/receipts to side outputs).

All outputs use the engine's tagged-union convention: one stream with
a ``result_type`` column (side outputs = downstream filters).

Scale notes: login-fail and blacklist keep one small tuple per live
key, dropped on success/timeout — bounded by construction, and each
is a single shuffle on its key with per-key Arrow frames. Order
timeout and tx reconciliation share ``_pair_match``, whose state is
one row per shard (``N_SHARDS`` key-hash shards) holding the shard's
pending keys: a batch costs O(pending keys in the touched shards)
plus one Python call per touched or due shard, not one per key. The
gain depends on a batch's keys being many against the pending keys it
carries: every batch re-reads and rewrites each touched shard, about
1 µs a pending key. With 200-order batches over 300k pending keys on
4 cores that stays under Spark's fixed micro-batch cost. Millions of
pending keys per shard are unmeasured; there per-key state may win.
At most ``N_SHARDS`` tasks run the matcher, whatever the cluster
size. The count is a constant, not read from the session, because a
restarted query must hash keys to the shards its checkpoint holds.
Checkpoints of those two written before the shard state cannot be
resumed: their state key and schema changed. Rows are processed in
event-time order within each micro-batch (explicit sort) so
out-of-order arrival inside a batch can't corrupt the state machine.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from itertools import compress

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# shards of the key-hash-sharded operators (_pair_match, late_split_stream)
N_SHARDS = 32


def _epoch_s(pdf: pd.DataFrame, col: str = "ts") -> np.ndarray:
    """Vectorized epoch-seconds from a timestamp column, unit-safe
    (Arrow may hand the stateful op datetime64[ns] or [us] frames).
    Replaces per-row ``row[col].timestamp()``, an iterrows() pattern that
    was the streaming bottleneck at scale."""
    return pdf[col].to_numpy().astype("datetime64[s]").astype("int64")


def login_fail_stream(events: DataFrame, max_gap_s: int = 2, max_fails: int = 2) -> DataFrame:
    """T1/T2: warn when two consecutive fails for a user arrive within
    ``max_gap_s`` seconds (event time); an intervening success resets.

    Input: login_event schema (user_id, ip, login_state, ts) with a
    watermark already attached. Output: (user_id, first_fail_ts_s,
    second_fail_ts_s, result_type='warning').

    State lifecycle: one (last_fail_ts) tuple per user whose LAST event
    was a fail, evicted by an event-time timer once the watermark
    passes last_fail_ts + max_gap_s — past that point no arriving fail
    can pair with it (later-than-watermark rows are dropped upstream),
    so keeping it would only leak. Mirrors blacklist_stream's
    end-of-day eviction; the reference (LoginFail.java:126-170) clears
    on success and relies on Flink state TTL for abandoned keys.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # watermark passed last_fail_ts + max_gap_s: no future fail
            # can be "consecutive" with the stored one — evict
            state.remove()
            return
        last_fail_ts = state.get[0] if state.exists else None
        out = []
        # A success clears and a fail overwrites, so "last_fail_ts at
        # event i" is just "event i-1 if it was a fail" — the whole
        # scan vectorizes to a shift comparison; only the batch
        # boundary carries state.
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            ts = _epoch_s(pdf)
            is_fail = (pdf["login_state"] == "fail").to_numpy()
            n = len(ts)
            if n == 0:
                continue
            prev_fail = np.empty(n, dtype=bool)
            prev_ts = np.empty(n, dtype="int64")
            prev_fail[1:] = is_fail[:-1]
            prev_ts[1:] = ts[:-1]
            prev_fail[0] = last_fail_ts is not None
            prev_ts[0] = last_fail_ts if last_fail_ts is not None else 0
            warn = is_fail & prev_fail & (ts - prev_ts <= max_gap_s)
            out.extend(
                (user_id, int(p), int(t), "warning")
                for p, t in zip(prev_ts[warn], ts[warn])
            )
            last_fail_ts = int(ts[-1]) if is_fail[-1] else None
        if last_fail_ts is None:
            if state.exists:
                state.remove()
        else:
            evict_ms = (last_fail_ts + max_gap_s) * 1000
            if evict_ms > state.getCurrentWatermarkMs():
                state.update((last_fail_ts,))
                state.setTimeoutTimestamp(evict_ms)
            elif state.exists:
                # the stored fail is already unpairable behind the
                # watermark — don't keep (or re-create) dead state
                state.remove()
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "first_fail_ts_s", "second_fail_ts_s", "result_type"]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        "user_id long, first_fail_ts_s long, second_fail_ts_s long, result_type string",
        "last_fail_ts long",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def _pair_match(
    tagged: DataFrame,
    key_col: str,
    cols: tuple[str, str],
    waits: tuple[int, int],
    lone: tuple[str, str],
    matched: Callable[[int, int], str],
) -> DataFrame:
    """The two-sided matcher behind order_timeout_stream and
    tx_match_stream: per key, the first-arriving side waits for its
    partner under an event-time timer.

    ``tagged`` holds ``key_col`` (bigint or string; its type is read
    from ``tagged``'s schema), ``ts`` and ``_second`` (True for a
    second-side row). Per key, rows apply in ``ts`` order (stable, so
    ties keep arrival order): a row whose partner is pending emits
    ``(key, first_ts, second_ts, matched(first_ts, second_ts))`` and
    clears the key; otherwise it becomes the key's pending side,
    replacing an earlier row of its own side. A lone side's timer is
    its ts plus its side's wait; when it fires the key emits its
    ``lone`` result with the other ts NULL. A key the batch touched
    resolves at once if its timer is at or before the watermark; an
    untouched key fires once its timer is before the watermark, which
    is Spark's own rule for a per-key event-time timeout.

    State is one row per shard (``pmod(xxhash64(key), N_SHARDS)``):
    the pending keys, their ts and their side as one Arrow IPC blob,
    with the shard's timeout at its earliest pending timer. Python runs
    once per touched or due shard instead of once per key, so the
    per-group serialization cost no longer scales with live keys. A
    touched shard still carries all of its pending keys through Python
    and back, but each costs a copy, not a step: only the batch's own
    rows run a Python loop, the rest are timed with array operations,
    and the blob crosses the JVM in one piece, where array columns
    would be converted element by element.
    """
    out_cols = [key_col, *cols, "result_type"]
    wait_ms = np.array(waits, dtype=np.int64) * 1000
    key_type = tagged.schema[key_col].dataType.simpleString()
    key_arrow = {"bigint": pa.int64(), "string": pa.string()}[key_type]
    shard_schema = pa.schema([("key", key_arrow), ("ts", pa.int64()), ("second", pa.bool_())])
    # Arrow hands a long column holding NULLs over as float64, which
    # rounds ids above 2^53: a NULL key travels as a flag instead
    sharded = tagged.select(
        F.coalesce(key_col, F.lit(0).cast(key_type)).alias(key_col),
        F.col(key_col).isNull().alias("_null"),
        "ts",
        "_second",
        F.pmod(F.xxhash64(key_col), F.lit(N_SHARDS)).alias("_shard"),
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            shard = pa.ipc.open_stream(state.get[0]).read_next_batch()
            keys = shard.column(0).to_pylist()
            ts = shard.column(1).to_numpy()
            second = shard.column(2).to_numpy(zero_copy_only=False)
        else:
            keys, ts, second = [], np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)
        touched = np.zeros(len(keys), dtype=bool)
        out = []
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
            pdf = pdf.iloc[np.argsort(pdf["ts"].to_numpy(), kind="stable")]
            at = dict(zip(keys, range(len(keys))))
            live = {}  # key the batch touched -> its pending (ts, second) or None
            for k, null, t, s in zip(
                pdf[key_col].tolist(),
                pdf["_null"].tolist(),
                _epoch_s(pdf).tolist(),
                pdf["_second"].tolist(),
            ):
                if null:
                    k = None
                if k in live:
                    cur = live[k]
                elif k in at:
                    cur = int(ts[at[k]]), bool(second[at[k]])
                else:
                    cur = None
                if cur is not None and cur[1] != s:
                    first_ts, second_ts = (cur[0], t) if s else (t, cur[0])
                    out.append((k, first_ts, second_ts, matched(first_ts, second_ts)))
                    live[k] = None
                else:
                    live[k] = t, s
            keep = np.ones(len(keys), dtype=bool)
            keep[[at[k] for k in live if k in at]] = False
            added = [(k, v) for k, v in live.items() if v is not None]
            keys = [*compress(keys, keep), *(k for k, _ in added)]
            ts = np.concatenate([ts[keep], np.array([v[0] for _, v in added], dtype=np.int64)])
            second = np.concatenate([second[keep], np.array([v[1] for _, v in added], dtype=bool)])
            touched = np.arange(len(keys)) >= len(keys) - len(added)
        timer = ts * 1000 + wait_ms[second.astype(np.intp)]
        wm_ms = state.getCurrentWatermarkMs()
        due = (timer < wm_ms) | ((timer == wm_ms) & touched)
        for i in np.flatnonzero(due).tolist():
            t, s = int(ts[i]), bool(second[i])
            out.append((keys[i], None if s else t, t if s else None, lone[s]))
        if not due.all():
            wait = ~due
            shard = pa.record_batch(
                [pa.array(list(compress(keys, wait)), key_arrow), ts[wait], second[wait]],
                schema=shard_schema,
            )
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, shard_schema) as writer:
                writer.write_batch(shard)
            state.update((sink.getvalue().to_pybytes(),))
            state.setTimeoutTimestamp(int(timer[wait].min()))
        elif state.exists:
            state.remove()
        if out:
            # object columns keep long keys above 2^53 exact next to a NULL
            yield pd.DataFrame(out, columns=out_cols, dtype=object)

    return sharded.groupBy("_shard").applyInPandasWithState(
        fn,
        f"{key_col} {key_type}, {cols[0]} long, {cols[1]} long, result_type string",
        "shard binary",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def order_timeout_stream(orders: DataFrame, timeout_s: int = 900) -> DataFrame:
    """T3/T4: per order_id, match create→pay within ``timeout_s``
    event-time seconds. Four outcomes (OrderTimeOutOnProcess.java:
    75-131): 'payed', 'payed but already timeout', 'payed but not
    found created log', 'order timeout' (via event-time timer at
    create_ts + timeout; a lone pay waits as long). Either side may
    arrive first (…java:75-97); any event_type other than 'create' is
    a pay.

    Input: order_event schema with watermark. Output: (order_id,
    create_ts_s, pay_ts_s, result_type).
    """
    tagged = orders.select(
        "order_id", "ts", (~F.col("event_type").eqNullSafe("create")).alias("_second")
    )
    return _pair_match(
        tagged,
        "order_id",
        ("create_ts_s", "pay_ts_s"),
        (timeout_s, timeout_s),
        ("order timeout", "payed but not found created log"),
        lambda create_ts, pay_ts: (
            "payed" if pay_ts <= create_ts + timeout_s else "payed but already timeout"
        ),
    )


def tx_match_stream(
    orders: DataFrame,
    receipts: DataFrame,
    pay_wait_s: int = 5,
    receipt_wait_s: int = 3,
) -> DataFrame:
    """J2: two-stream reconciliation on tx_id (TxPayMatch.java:82-141).
    First-arriving side waits in state; the partner's arrival emits
    'matched'; an event-time timer diverts lone pays/receipts to
    'unmatched_pay' / 'unmatched_receipt' after their wait.

    Inputs: order_event (pay rows only are relevant; filtered here,
    TxPayMatch.java:54) and receipt_event, both watermarked. The two
    streams are unioned into one tagged stream — Spark's stateful op
    takes one input, so `connect` becomes union + per-row side tag.

    Output: (tx_id, pay_ts_s, receipt_ts_s, result_type).
    """
    pays = orders.filter((F.col("event_type") == "pay") & (F.col("tx_id") != "")).select(
        "tx_id", "ts", F.lit(False).alias("_second")
    )
    rec = receipts.select("tx_id", "ts", F.lit(True).alias("_second"))
    return _pair_match(
        pays.unionByName(rec),
        "tx_id",
        ("pay_ts_s", "receipt_ts_s"),
        (pay_wait_s, receipt_wait_s),
        ("unmatched_pay", "unmatched_receipt"),
        lambda pay_ts, receipt_ts: "matched",
    )


def blacklist_stream(clicks: DataFrame, threshold: int = 100) -> DataFrame:
    """T5: click-fraud filter (AdStatisticsByProvince.java:104-160) —
    per (user_id, ad_id) count clicks; when the count crosses
    ``threshold`` emit ONE warning row and drop further clicks; pass
    others through tagged 'click'. The reference's midnight-reset
    processing-time timer becomes a per-event-day state key component,
    with an event-time timer at end-of-day that EVICTS the entry once
    the watermark proves the day closed — state is bounded by keys
    active inside the watermark horizon, not by stream lifetime
    (the reference's ctx.timerService midnight reset, in event time).

    The per-batch scan is a cumulative count (arange over the sorted
    frame) — no per-row Python."""
    keyed = clicks.withColumn("day", F.to_date("ts"))

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id, ad_id, day = key
        if state.hasTimedOut:
            # watermark passed end-of-day: no more rows for this key
            # can arrive (later ones are dropped upstream) — evict
            state.remove()
            return
        cnt, warned = state.get if state.exists else (0, 0)
        frames = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            ts = _epoch_s(pdf)
            n = len(ts)
            if n == 0:
                continue
            running = cnt + np.arange(1, n + 1)
            keep = running <= threshold
            f = pd.DataFrame(
                {
                    "user_id": np.full(keep.sum(), user_id, dtype="int64"),
                    "ad_id": np.full(keep.sum(), ad_id, dtype="int64"),
                    "ts_s": ts[keep],
                    "warning": None,
                    "result_type": "click",
                }
            )
            frames.append(f)
            if not warned and running[-1] > threshold:
                first_over = ts[np.searchsorted(running, threshold + 1)]
                frames.append(
                    pd.DataFrame(
                        {
                            "user_id": [user_id],
                            "ad_id": [ad_id],
                            "ts_s": [int(first_over)],
                            "warning": [f"click over {threshold} times today"],
                            "result_type": ["warning"],
                        }
                    )
                )
                warned = 1
            cnt = int(running[-1])
        eod_ms = (
            int(pd.Timestamp(day).to_datetime64().astype("datetime64[s]").astype("int64"))
            + 86400
        ) * 1000
        if eod_ms > state.getCurrentWatermarkMs():
            state.update((cnt, warned))
            state.setTimeoutTimestamp(eod_ms)
        elif state.exists:
            state.remove()  # day already closed behind the watermark
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return keyed.groupBy("user_id", "ad_id", "day").applyInPandasWithState(
        fn,
        "user_id long, ad_id long, ts_s long, warning string, result_type string",
        "cnt long, warned int",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def late_split_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    delay_s: int = 0,
    allowed_lateness_s: int = 60,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """W9: true late-data side output (HotPages.java:68,78-79,83 —
    ``allowedLateness(1m)`` + ``sideOutputLateData(lateTag)``). Every
    input row passes through tagged ``result_type`` 'on_time' or
    'late' (the engine's tagged-union side-output convention); 'late'
    rows are those a Flink pipeline would divert to the late tag:
    older than ``watermark - allowed_lateness`` at arrival.

    Spark's built-in ``withWatermark`` cannot express this — stateful
    operators DROP later-than-watermark rows before any user code sees
    them. So the operator maintains its own Flink-style
    bounded-out-of-orderness watermark (wm = max observed event time −
    ``delay_s``) in per-shard state and never attaches a Spark
    watermark, so no row is ever silently dropped.

    Scale/semantics notes:
    - state is ONE long per shard (``n_shards`` total, key-hash
      sharded) — no serialization point, no growth with the stream;
    - a shard's watermark tracks the max event time of its own keys;
      with hash sharding, event-time progress is statistically uniform
      across shards, so shard wm ≈ global wm (Flink's watermark is
      likewise the min across parallel source partitions);
    - lateness is judged at micro-batch granularity: rows in a batch
      compare against the watermark as of the END of the previous
      batch (deterministic under file replay), then the batch's max
      advances it.

    Output: input columns minus ``ts_col``, plus ``ts_s``/``wm_s``
    (epoch s; wm_s −1 before any watermark exists) + ``result_type``.
    """
    passthrough = [f for f in events.schema.fields if f.name != ts_col]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in passthrough]
        + ["ts_s long", "wm_s long", "result_type string"]
    )
    out_cols = [f.name for f in passthrough] + ["ts_s", "wm_s", "result_type"]
    sharded = events.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # The watermark for the WHOLE micro-batch is fixed up front from
        # the state left by the previous batch; a batch that spans
        # multiple Arrow chunks must not judge later chunks against a
        # watermark advanced by its own earlier chunks (tagging would
        # then depend on Arrow chunking, not on batch boundaries).
        prev_max = state.get[0] if state.exists else None
        wm = prev_max - delay_s if prev_max is not None else None
        batch_max = prev_max
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts = _epoch_s(pdf, ts_col)
            out = pdf.drop(columns=[ts_col, "_shard"])
            out["ts_s"] = ts
            out["wm_s"] = wm if wm is not None else -1
            late = (
                ts < wm - allowed_lateness_s
                if wm is not None
                else np.zeros(len(ts), dtype=bool)
            )
            out["result_type"] = np.where(late, "late", "on_time")
            chunk_max = int(ts.max())
            batch_max = chunk_max if batch_max is None else max(batch_max, chunk_max)
            yield out[out_cols]
        if batch_max is not None:
            state.update((batch_max,))

    return sharded.groupBy("_shard").applyInPandasWithState(
        fn, out_schema, "max_ts long", "append", GroupStateTimeout.NoTimeout
    )


def sequence_match_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    steps: list[tuple[str, str]],
    within_s: int,
) -> DataFrame:
    """Streaming twin of ``operators.patterns.match_sequence``
    (relaxed / skip-till-next contiguity): the generic form of Flink
    CEP's ``followedBy ... within`` on a live stream
    (OrderPayTimeOut.java:56-70 generalized to any step list).

    Event-time-correct like Flink's CEP operator: arrivals are
    buffered in state and only processed once the watermark passes
    their timestamp, in timestamp order — so out-of-order arrival
    across micro-batches cannot corrupt match order. Step predicates
    are evaluated JVM-side into a per-event bitmask before the
    stateful op; Python only walks small per-key buffers.

    State per key: pending events (ts + step bitmask) inside the
    watermark horizon and active partial chains; chains expire as soon
    as the watermark proves they can no longer complete (t0 + within
    passed), so state is bounded by the within-window — the analog of
    the reference's timer-based GC. An event-time timeout re-fires
    the key on watermark advance even with no new arrivals.

    Emits one row per completed chain: (key, ts_<name>... epoch-s), the
    key typed as in the stream.
    """
    k = len(steps)
    names = [n for n, _ in steps]
    mask_expr = " + ".join(
        f"CAST(({p}) AS LONG) * {1 << i}" for i, (_, p) in enumerate(steps)
    )
    flagged = events.select(
        F.col(key_col), F.col(ts_col).alias("_ts"), F.expr(mask_expr).alias("_mask")
    )
    out_cols = [key_col] + [f"ts_{n}" for n in names]
    key_type = events.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, " + ", ".join(f"ts_{n} long" for n in names)
    state_schema = "buf_ts array<long>, buf_mask array<long>, chains array<array<long>>"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (key_val,) = key
        buf_ts, buf_mask, chains = ([], [], [])
        if state.exists:
            s = state.get
            buf_ts = list(s[0] or [])
            buf_mask = list(s[1] or [])
            # chain = [next_step, t0, t1, ... t_{next_step-1}]
            chains = [list(c) for c in (s[2] or [])]
        for pdf in pdfs:
            buf_ts.extend(_epoch_s(pdf, "_ts").tolist())
            buf_mask.extend(pdf["_mask"].astype("int64").tolist())
        wm_s = state.getCurrentWatermarkMs() // 1000
        pending = sorted(zip(buf_ts, buf_mask))
        ready = [(t, m) for t, m in pending if t <= wm_s]
        held = [(t, m) for t, m in pending if t > wm_s]
        completed: set[tuple] = set()
        for t, m in ready:
            advanced: list[list[int]] = []
            for c in chains:
                nxt, t_last = c[0], c[-1]
                if (m >> nxt) & 1 and t > t_last and t - c[1] <= within_s:
                    if nxt == k - 1:
                        completed.add(tuple(c[1:] + [t]))
                        continue  # chain consumed
                    advanced.append([nxt + 1, *c[1:], t])
                else:
                    advanced.append(c)
            chains = advanced
            if m & 1:
                if k == 1:
                    completed.add((t,))
                else:
                    chains.append([1, t])
        # GC: drop chains the watermark has proven dead, dedupe
        chains = [c for c in chains if c[1] + within_s >= wm_s]
        chains = [list(c) for c in {tuple(c) for c in chains}]
        if held or chains:
            state.update(
                ([t for t, _ in held], [m for _, m in held], chains)
            )
            # Arm the timer at the EARLIEST instant this key can
            # actually act without new input: a held event becomes
            # processable when the watermark reaches its own timestamp,
            # and a chain (absent new events, which re-fire the key by
            # themselves) only needs a wake-up to be GC'd at
            # t0 + within. Arming at watermark+1s instead re-fired
            # EVERY live key on EVERY watermark advance — an O(live
            # keys) sweep per micro-batch.
            wake_s = None
            if held:
                wake_s = held[0][0]  # pending is ts-sorted → min held ts
            if chains:
                expiry = min(c[1] + within_s for c in chains) + 1
                wake_s = expiry if wake_s is None else min(wake_s, expiry)
            # event-time timeouts must sit strictly beyond the current
            # watermark; both candidates satisfy that by construction
            # (held ts > wm_s; surviving chains have t0+within >= wm_s)
            state.setTimeoutTimestamp(
                max(wake_s * 1000, state.getCurrentWatermarkMs() + 1000)
            )
        elif state.exists:
            state.remove()
        if completed:
            yield pd.DataFrame(
                [(key_val, *ts) for ts in sorted(completed)], columns=out_cols
            )

    return flagged.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
