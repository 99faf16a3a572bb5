"""Time-series resampling: regular-grid densification with
forward-fill, the batch form of the gap-handling every windowed
streaming aggregate implies (reference: HotItems-style windowed counts
emit nothing for empty windows — Flink-kafka's window operators,
SURVEY.md §2.6; a downstream consumer of those aggregates needs the
empty buckets materialized and the last observation carried forward).

Scale design (100 TB):
- The raw stream is touched exactly once, as a narrow 3-column
  projection, by the (key, bucket) partial-aggregated count/sum
  shuffle; that grid-capped aggregate is persisted and re-read for the
  1-row global bucket range (broadcast back), the distinct-key frame,
  and the grid left join.
- The dense grid is generated executor-side from the DISTINCT key
  frame with ``explode(sequence(...))`` — |keys| x |buckets| rows that
  never existed on the wire; no corpus-sized shuffle produces it.
- The observed frame the grid left-joins is the POST-aggregation
  (key, bucket) frame, whose size is capped by the grid itself, so the
  broadcast hint is bounded by |keys| x |buckets| — the resample
  resolution the caller chose — never by the corpus. The hint is
  therefore unconditional: the side is bounded by construction.
- Forward-fill is ONE window pass per key (``last(..., ignorenulls)``
  over an unbounded-preceding frame), so the only post-grid exchange
  is the per-key sort — again grid-sized, not corpus-sized. Per-key
  grid length is bounded; a pathological span/resolution combination
  shows up as grid size, not as skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _e4(col: str | Column) -> Column:
    """Exact 4-dp fixed-point units (the repo's cross-engine money/
    metric convention): floor-half-up to BIGINT so every downstream
    sum is integer-exact and partition-order-independent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 10000 + F.lit(0.5)).cast("long")


def _grid_obs(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_s: int,
) -> DataFrame:
    """Shared grid machinery for both resample modes: the per-(key,
    bucket) count/sum aggregate (persisted — the grid-capped frame is
    read three times, so the raw stream is scanned exactly once), the
    1-row global bucket range broadcast back, the executor-side dense
    grid from the distinct-key frame, and the broadcast left join.
    Returns one row per (key, bucket_s) with nullable cnt/val_e4."""
    from ..caching import track

    events = df.select(
        F.col(key_col).alias("key"),
        (F.floor(F.unix_timestamp(ts_col) / step_s) * step_s)
        .cast("long")
        .alias("bucket_s"),
        F.col(value_col).alias("v"),
    )
    obs = track(
        events.groupBy("key", "bucket_s")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # non-null value count: the mean's denominator (conventional
            # AVG semantics — a NULL-valued event counts toward cnt but
            # not toward the bucket mean)
            F.count("v").alias("vcnt"),
            F.sum(_e4("v")).alias("val_e4"),
        )
        .persist()
    )
    return _densify(obs, step_s)


def _densify(obs: DataFrame, step_s: int) -> DataFrame:
    """Bounds + executor-side dense grid + broadcast left join over an
    aggregated (key, bucket_s, ...) frame — the single copy of the
    grid construction shared by :func:`_grid_obs` (batch resample) and
    :func:`densify_buckets` (streaming emitter / stored rollups), so
    the two faces cannot drift."""
    bounds = obs.agg(F.min("bucket_s").alias("mn"), F.max("bucket_s").alias("mx"))
    grid = (
        obs.select("key")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "key",
            F.explode(
                F.sequence("mn", "mx", F.lit(int(step_s)).cast("long"))
            ).alias("bucket_s"),
        )
    )
    return grid.join(F.broadcast(obs), ["key", "bucket_s"], "left")


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_s: int,
) -> DataFrame:
    """Densify an event stream onto a ``step_s``-second grid per key.

    Returns one row per (key, grid bucket) over the GLOBAL observed
    bucket range (shared range: a key silent at the edges still gets
    rows, which is the monitoring semantics — silence IS the signal):

    - ``cnt``          events observed in the bucket (0 when empty;
                       NULL-valued events count here);
    - ``bucket_avg``   mean over the bucket's NON-NULL values
                       (conventional AVG semantics), half-up 4 dp,
                       NULL when the bucket is empty or all-NULL;
    - ``filled_avg``   forward-filled ``bucket_avg`` (last observed
                       bucket's mean carried across gaps; NULL until
                       the key's first observation);
    - ``gap_buckets``  distance in buckets since the last observed
                       bucket (0 on observed rows, NULL before the
                       first observation).
    """
    full = _grid_obs(df, key_col, ts_col, value_col, step_s)
    return _ffill_project(full, key_col, step_s)


def _ffill_project(full: DataFrame, key_col: str, step_s: int) -> DataFrame:
    """The ffill projection over an already-densified (key, bucket_s,
    cnt, vcnt, val_e4) frame — shared by the batch :func:`resample_ffill`
    and the streaming foreachBatch emitter
    (streaming.jobs.emit_gapfill), so the two faces cannot drift."""
    w = (
        Window.partitionBy("key")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # integer-exact until this projection: avg_e4 = floor(sum_e4/vcnt
    # + 0.5); both operands are exact BIGINTs well under 2^53, so the
    # double division is the same on any engine. vcnt=0 (all-NULL
    # bucket) never divides: val_e4 is NULL there, and NULL propagates
    # through the division before either engine looks at the divisor.
    avg_e4 = F.floor(F.col("val_e4") / F.col("vcnt") + F.lit(0.5))
    return full.select(
        F.col("key").alias(key_col),
        "bucket_s",
        F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
        (avg_e4 / 10000.0).alias("bucket_avg"),
        (F.last(avg_e4, ignorenulls=True).over(w) / 10000.0).alias("filled_avg"),
        (
            (
                F.col("bucket_s")
                - F.max(
                    F.when(F.col("cnt").isNotNull(), F.col("bucket_s"))
                ).over(w)
            )
            / F.lit(int(step_s))
        )
        .cast("long")
        .alias("gap_buckets"),
    )


def densify_buckets(obs: DataFrame, key_col: str, step_s: int) -> DataFrame:
    """Densify an ALREADY-aggregated (key_col, bucket_s, cnt, vcnt,
    val_e4) bucket frame onto the step grid and forward-fill — the
    grid/ffill half of :func:`resample_ffill` without the raw-event
    aggregate, for callers that receive bucket partials (the streaming
    emitter's closed windows, a stored rollup). Bucket-frame-sized:
    |keys| x |range| rows, independent of the raw corpus. The input
    is persisted here for the same reason _grid_obs persists its
    aggregate: _densify reads it three times (bounds, distinct keys,
    join probe) — unpersisted, a streaming micro-batch's bucket frame
    would be re-derived from its source on every branch."""
    from ..caching import track

    obs = track(
        obs.select(
            F.col(key_col).alias("key"), "bucket_s", "cnt", "vcnt", "val_e4"
        ).persist()
    )
    return _ffill_project(_densify(obs, step_s), key_col, step_s)


def resample_interp(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_s: int,
) -> DataFrame:
    """The other standard resample mode: LINEAR interpolation between
    the surrounding observed bucket means instead of carrying the last
    one forward. Same grid/aggregation machinery as
    :func:`resample_ffill`; the extra backward-looking neighbor adds a
    second window FRAME over the same (key, bucket) sort — no extra
    exchange, one more in-partition pass.

    ``interp_avg`` is the bucket's own non-null-value mean on
    value-bearing rows, the
    linear blend prev + (next − prev) · frac on interior gaps, and
    NULL outside the key's [first, last] value-bearing span (linear
    interpolation has no defensible extrapolation; use the ffill
    variant when you need edge carry). Interpolation anchors are
    buckets whose MEAN is non-null — a bucket observed with only NULL
    values is blended across like a gap, so the value and the distance
    in the blend always come from the same pair of anchor buckets.
    The blend is evaluated on exact e4 integers with an identical
    expression on both engines, so the doubles agree bit-for-bit."""
    full = _grid_obs(df, key_col, ts_col, value_col, step_s)
    back = (
        Window.partitionBy("key")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the forward lookups are phrased as PRECEDING frames over a
    # DESCENDING sort, not CURRENT ROW..UNBOUNDED FOLLOWING: Spark
    # evaluates unbounded-following ("shrinking") frames by
    # recomputing the aggregate per row — O(n²) per partition, 13x
    # slower on the sf0.1 grid — while preceding frames run
    # incrementally; the extra cost is one more in-partition sort on
    # the same exchange
    fwd = (
        Window.partitionBy("key")
        .orderBy(F.desc("bucket_s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    avg_e4 = F.floor(F.col("val_e4") / F.col("vcnt") + F.lit(0.5))
    # anchor = value-bearing bucket (avg non-null), NOT merely
    # observed: a bucket whose every value is NULL must not donate its
    # DISTANCE while a different bucket donates the VALUE
    anchor_bucket = F.when(avg_e4.isNotNull(), F.col("bucket_s"))
    prev_v = F.last(avg_e4, ignorenulls=True).over(back)
    next_v = F.last(avg_e4, ignorenulls=True).over(fwd)
    prev_b = F.max(anchor_bucket).over(back)
    next_b = F.min(anchor_bucket).over(fwd)
    frac = (F.col("bucket_s") - prev_b) / (next_b - prev_b)
    interp_e4 = F.when(avg_e4.isNotNull(), avg_e4).otherwise(
        F.floor(prev_v + (next_v - prev_v) * frac + F.lit(0.5))
    )
    return full.select(
        F.col("key").alias(key_col),
        "bucket_s",
        F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
        (interp_e4 / 10000.0).alias("interp_avg"),
    )
