"""Event-time windowed aggregation (SURVEY.md §2.6 W1-W8, §2.7 A1-A10).

The reference hand-builds partial+final window counts
(``AggregateFunction`` + ``WindowFunction``, e.g. reference
``HotItemsAnalysis/.../HotItems.java:93-131``). In Spark the same
semantics are one declarative ``groupBy(window(...), keys).agg(...)`` —
Catalyst plans a partial aggregation before the shuffle automatically
(HashAggregateExec partial → final), so the reference's manual
salting/two-phase tricks (``PageView.java:73-88``) are unnecessary.

Window boundaries are emitted as **epoch seconds (long)** columns
``window_start_s`` / ``window_end_s``: integer output is stable across
engines/timezones, which matters for the DuckDB oracle harness, and is
cheaper to shuffle than a struct<timestamp,timestamp>.

Scale notes: the shuffle key is (window, *keys). Sliding windows
multiply rows by size/slide before the partial agg, but the partial agg
collapses them map-side, so shuffled volume is ~(#distinct keys ×
windows-per-row), not #rows. Keep size/slide ratios modest (≤ ~24) at
100 TB; for very fine slides prefer tumbling-at-slide-granularity then
roll up (see :func:`sliding_from_tumbling`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _project_bounds(df: DataFrame, keys: Sequence[str], aggs: Sequence[str]) -> DataFrame:
    """Replace the window struct with epoch-second long bounds."""
    return df.select(
        F.col("_w.start").cast("long").alias("window_start_s"),
        F.col("_w.end").cast("long").alias("window_end_s"),
        *keys,
        *aggs,
    )


_UNIT_S = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}

#: batch sliding counts switch to the tumbling-rollup plan at this
#: size/slide ratio (Expand would multiply every input row by it)
FINE_SLIDE_RATIO = 16


def _interval_s(spec: str) -> int:
    n, unit = spec.strip().split()
    return int(n) * _UNIT_S[unit.lower()]


def windowed_count(
    df: DataFrame,
    ts_col: str,
    size: str,
    slide: str | None = None,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """COUNT(*) (+ optional extra aggs) per key × event-time window.

    Covers the reference's A1-A5, A8, A10 (per-item, per-url,
    per-channel×behavior, global, per-province window counts) — key
    choice is the only difference between them.

    The groupBy is on the ``window()`` struct itself (not pre-computed
    bounds) so Structured Streaming recognizes the event-time column
    and the same code runs watermarked on streams; bounds are projected
    to epoch-second longs after the aggregation.

    Batch plan selection: a fine slide (size/slide ≥ FINE_SLIDE_RATIO,
    e.g. the reference's 1h/5s W3 = 720×) would Expand every input row
    ratio-fold; pure counts on the batch path switch to the
    tumbling-partials rollup (:func:`sliding_from_tumbling`) which
    shuffles slide buckets instead. Streaming always uses window()
    (chained aggregations are unsupported in streaming queries).
    """
    if (
        slide is not None
        and not aggs
        and not df.isStreaming
        and _interval_s(size) // _interval_s(slide) >= FINE_SLIDE_RATIO
        and _interval_s(size) % _interval_s(slide) == 0
    ):
        return sliding_from_tumbling(df, ts_col, _interval_s(size), _interval_s(slide), keys)
    w = F.window(ts_col, size, slide) if slide else F.window(ts_col, size)
    out = df.groupBy(w.alias("_w"), *keys).agg(F.count(F.lit(1)).alias("cnt"), *aggs)
    agg_names = ["cnt", *[c for c in out.columns if c not in ("_w", "cnt", *keys)]]
    return _project_bounds(out, keys, agg_names)


def windowed_distinct(
    df: DataFrame,
    ts_col: str,
    size: str,
    distinct_col: str,
    keys: Sequence[str] = (),
    approximate: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """COUNT(DISTINCT x) per window — exact (reference A6,
    ``UniqueVisitor.java:64-73``) or approximate via HLL++ (replacing
    the reference's Redis-bitmap Bloom filter A7,
    ``UvWithBloomFilter.java:95-155``; README sizes the BF at 64 MB for
    1e8 users — HLL++ at rsd=0.02 needs a few KB per window and merges
    map-side, so the external store disappears entirely).

    Note for streaming: exact countDistinct isn't supported in a
    streaming aggregation — use ``approximate=True`` (mergeable HLL++
    sketch) or dropDuplicates upstream; the batch path is exact.
    """
    agg = (
        F.approx_count_distinct(distinct_col, rsd) if approximate else F.countDistinct(distinct_col)
    ).alias("uv")
    out = df.groupBy(F.window(ts_col, size).alias("_w"), *keys).agg(agg)
    return _project_bounds(out, keys, ["uv"])


def sliding_from_tumbling(
    df: DataFrame,
    ts_col: str,
    size_s: int,
    slide_s: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Scale path for fine-grained slides: aggregate once at slide
    granularity (tumbling), then roll partials into sliding windows.
    Shuffles #distinct (slide-bucket × key) rows instead of replicating
    every input row size/slide times — the right trade at 100 TB when
    size/slide is large (e.g. the reference's 1h/5s windows W3).
    """
    per_slide = (
        df.withColumn("_slide_start", (F.col(ts_col).cast("long") / slide_s).cast("long") * slide_s)
        .groupBy("_slide_start", *keys)
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    n = size_s // slide_s
    offsets = F.sequence(F.lit(0), F.lit(n - 1))
    return (
        per_slide.withColumn("_i", F.explode(offsets))
        .withColumn("window_start_s", F.col("_slide_start") - F.col("_i") * slide_s)
        .withColumn("window_end_s", F.col("window_start_s") + size_s)
        .groupBy("window_start_s", "window_end_s", *keys)
        .agg(F.sum("_partial").alias("cnt"))
    )


def _bloom_positions(users, m_bits: int, k: int):
    """(k, n) bit positions per user id — splitmix64 finalizer per
    salt, pure uint64 wraparound arithmetic: deterministic across
    runs, partitionings, and engines."""
    import numpy as np

    mask = 0xFFFFFFFFFFFFFFFF
    x = users.astype(np.uint64)
    out = np.empty((k, len(users)), dtype=np.int64)
    for j in range(k):
        z = x + np.uint64((0x9E3779B97F4A7C15 * (j + 1)) & mask)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
        out[j] = (z % np.uint64(m_bits)).astype(np.int64)
    return out


def _bloom_insert_count(users, bits, m_bits: int, k: int) -> int:
    """Insert users (first-seen order) into the bit array; return how
    many were NOT already present — the reference's membership-dedup
    count. Positions precomputed vectorized; the loop only touches the
    first occurrence of each distinct user."""
    import numpy as np

    _, first_idx = np.unique(users, return_index=True)
    firsts = users[np.sort(first_idx)]  # distinct, first-seen order
    pos = _bloom_positions(firsts, m_bits, k)
    uv = 0
    for i in range(len(firsts)):
        p = pos[:, i]
        if not bits[p].all():
            uv += 1
            bits[p] = True
    return uv


def windowed_uv_bloom(
    df: DataFrame,
    ts_col: str,
    size: str,
    distinct_col: str = "user_id",
    m_bits: int = 1 << 22,
    k: int = 3,
    lateness: str | None = None,
) -> DataFrame:
    """A7 with the reference's ACTUAL semantics: per-window unique
    count via Bloom-filter membership dedup (UvWithBloomFilter.java:
    95-155 — Redis bitmap, count++ iff the user's bit was unset), as
    opposed to the HLL++ cardinality estimate of
    :func:`windowed_distinct`. Users who want dedup-by-membership (a
    filter answering "seen before?", with one-sided error) rather than
    an estimate get this variant; false positives UNDERCOUNT, never
    overcount, so ``uv_bloom ≤ exact uv`` always.

    Sizing: the reference's README sizes its bitmap at 64 MB for 1e8
    users; the classic formula m = −n·ln(fpp)/ln²2 gives the same
    order (1e8 users @ 1% fpp → ~120 MB). The default 2^22 bits
    (512 KB, ~64 KB packed in streaming state) at k=3 gives per-insert
    fpp ≈ (1 − e^{−kn/m})^k: ~4e-9 at n=10³, ~3e-7 at n=10⁴, ~3e-4 at
    n=10⁵ (≈ a handful of expected undercounts per window at 1e5
    users). Treat it as effectively exact to ~10⁴ users/window; size
    ``m_bits`` up (it only costs state bytes) for bigger windows.

    Batch: a distributed map-side-combined ``groupBy(window, user).
    agg(min(ts))`` first shrinks the stream to DISTINCT users per
    window, then one ``applyInPandas`` per window group runs the
    serial bloom insert over that O(UV) Arrow batch — the bit array
    lives only inside its group's batch, and the single-threaded term
    is bounded by per-window cardinality, never event volume. Insert
    order is preserved exactly — first occurrences were consumed in
    sorted ``(ts, user)`` order, and a user's first occurrence is
    ``(min(ts), user)`` — so collision behavior and counts are
    bit-identical to processing the raw rows. Streaming: per-window
    state holds the packed bitmap (``applyInPandasWithState``), the
    exact analog of the reference's per-window Redis key, and is
    EVICTED once the event-time watermark passes window_end +
    ``lateness`` (default: one window size) — the operator attaches
    its own ``withWatermark(ts_col, lateness)``, so rows later than
    that are dropped upstream and the bitmap can never matter again.
    Without eviction, per-window bitmaps (~m_bits/8 bytes each)
    accumulate for stream lifetime. Rows are processed in (ts, user)
    order so replays are deterministic."""
    import numpy as np
    import pandas as pd

    size_s = _interval_s(size)
    out_schema = "window_start_s long, window_end_s long, uv long"
    if df.isStreaming:
        lateness = lateness if lateness is not None else size
        lateness_s = _interval_s(lateness)
        df = df.withWatermark(ts_col, lateness)
    keyed = df.select(
        (F.floor(F.col(ts_col).cast("long") / size_s) * size_s).alias("window_start_s"),
        F.col(ts_col).alias("_ts"),
        F.col(distinct_col).alias("_u"),
    )

    if not df.isStreaming:
        # Pre-shrink to DISTINCT (window, user) before the per-window
        # serial bloom insert: the map-side-combined `min(_ts)` agg is
        # fully distributed, so the single-group Arrow batch the kernel
        # sees is O(UV), not O(rows) — at 100 TB the serial term is
        # bounded by per-window cardinality, never event volume.
        # Collision order is UNCHANGED: the kernel inserted first
        # occurrences in sorted (_ts, _u) order, and a user's first
        # occurrence in that order is exactly (min(_ts), _u) — so the
        # same bits are set in the same sequence and the count is
        # bit-identical to the per-row insert it replaced (oracle unchanged).
        distinct_users = keyed.groupBy("window_start_s", "_u").agg(
            F.min("_ts").alias("_ts")
        )

        def count_window(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["_ts", "_u"])
            bits = np.zeros(m_bits, dtype=bool)
            uv = _bloom_insert_count(pdf["_u"].to_numpy(), bits, m_bits, k)
            ws = int(pdf["window_start_s"].iloc[0])
            return pd.DataFrame(
                {"window_start_s": [ws], "window_end_s": [ws + size_s], "uv": [uv]}
            )

        return distinct_users.groupBy("window_start_s").applyInPandas(
            count_window, out_schema
        )

    from collections.abc import Iterator

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (ws,) = key
        ws = int(ws)  # numpy int64 → int (timeout ms is JSON-serialized)
        if state.hasTimedOut:
            # watermark passed window_end + lateness: any further row
            # for this window would be dropped by the late-row filter
            # upstream, so the bitmap can never matter again — evict.
            # This FIXES unbounded state growth the reference actually
            # exhibits: UvWithBloomFilter.java:125-155 setbits per-
            # window Redis bitmap keys but never deletes or expires
            # them (FIRE_AND_PURGE purges only Flink's window buffer),
            # so its Redis keys accumulate forever.
            state.remove()
            return
        if state.exists:
            packed, uv = state.get
            bits = np.unpackbits(np.frombuffer(packed, dtype=np.uint8)).astype(bool)
        else:
            bits, uv = np.zeros(m_bits, dtype=bool), 0
        got = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            got = True
            pdf = pdf.sort_values(["_ts", "_u"])
            uv += _bloom_insert_count(pdf["_u"].to_numpy(), bits, m_bits, k)
        if got:
            evict_ms = (ws + size_s + lateness_s) * 1000
            if evict_ms > state.getCurrentWatermarkMs():
                state.update((np.packbits(bits).tobytes(), uv))
                state.setTimeoutTimestamp(evict_ms)
            elif state.exists:
                # window already unreachable behind the watermark —
                # emit the final count but drop (don't re-create) state
                state.remove()
            yield pd.DataFrame(
                {"window_start_s": [ws], "window_end_s": [ws + size_s], "uv": [uv]}
            )

    return keyed.groupBy("window_start_s").applyInPandasWithState(
        fn, out_schema, "bits binary, uv long", "append", GroupStateTimeout.EventTimeTimeout
    )


def salted_count(
    df: DataFrame,
    keys: Sequence[str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted COUNT(*) for pathologically hot keys — the
    reference's manual skew fix (A9, ``PageView.java:73-88``: random
    key 0-9 then re-aggregate by window).

    Spark's map-side partial aggregation already handles ordinary
    skew (each task pre-aggregates before the shuffle), so this is an
    OPT-IN for the extreme case where even the partial-agg hash table
    on a single hot key's input partitions becomes the bottleneck:
    phase 1 shuffles on (key, salt) spreading one key over ``n_salts``
    reducers; phase 2 rolls the ≤n_salts partials per key together.
    Result is identical to ``groupBy(keys).count()``.
    """
    salt = (F.rand(seed=7) * n_salts).cast("int").alias("_salt")
    phase1 = df.select(*keys, salt).groupBy(*keys, "_salt").agg(
        F.count(F.lit(1)).alias("_partial")
    )
    return phase1.groupBy(*keys).agg(F.sum("_partial").alias("cnt"))


def key_skew_report(
    df: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """One-row skew diagnostic for a grouping key — the measurement
    that decides whether a job needs :func:`salted_count`, AQE skew
    splitting, or nothing (the reference salts blindly; SURVEY §4
    argues measure-first). Reports key cardinality, total rows, the
    heaviest key's share, exact p50/p99 of the per-key counts, and
    skew_ratio = max/mean (1.0 = perfectly flat).

    Scale: one map-side-combined (keys) count — the same shuffle the
    real aggregation would pay — then every statistic is computed on
    the |keys|-sized counts frame: the exact percentiles sort counts,
    not rows, and the argmax key travels as a packed (cnt, key-hash)
    max, so nothing beyond the counts frame ever moves. Run it on a
    sample in production if even the counts frame is too hot.

    Deterministic: the reported top key is the max-count key, ties
    broken by the key string itself — the argmax travels inside the
    plain max() of a (zero-padded count || key) string, so the
    combiner stays an ordinary max and no argmax/tie ambiguity can
    diverge across engines."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    key_str = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    packed = F.concat(F.lpad(F.col("cnt").cast("string"), 12, "0"), key_str)
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.expr("CAST(percentile(cnt, 0.5) AS DOUBLE)").alias("p50_cnt"),
        F.expr("CAST(percentile(cnt, 0.99) AS DOUBLE)").alias("p99_cnt"),
        F.expr(
            "floor(CAST(max(cnt) AS DOUBLE) / (CAST(sum(cnt) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000"
        ).alias("skew_ratio"),
        F.substring(F.max(packed), 13, 1_000_000).alias("top_key"),
    )
