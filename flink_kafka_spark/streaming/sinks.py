"""Streaming sinks (SURVEY.md §2.2 K1-K4).

- console sink for the reference's ``.print()`` surface (a tagged side
  output, Flink's OutputTag, is a filter on ``result_type``);
- Kafka sink for pipeline feeds;
- parquet sink for exactly-once file output;
- changelog sink: per-batch upsert/retract rows against the last
  emitted state (the per-batch logic and external stores the Redis
  sink K3 served run through ``foreachBatch``; the Bloom-filter/bitmap
  state it held lives in Spark streaming state instead, SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..io import local_frame


def console_sink(df: DataFrame, mode: str = "update", truncate: bool = False) -> DataStreamWriter:
    """K1: .print() → console sink (mode 'complete'/'update' stands in
    for the retract stream K4 — Spark re-emits corrected rows instead
    of explicit (false,-U)/(true,+U) pairs)."""
    return df.writeStream.outputMode(mode).format("console").option("truncate", truncate)


def kafka_sink(
    df: DataFrame, topic: str, bootstrap: str = "localhost:9092", checkpoint: str | None = None
) -> DataStreamWriter:
    from .sources import kafka_producer_options

    w = df.writeStream.format("kafka").options(**kafka_producer_options(topic, bootstrap))
    return w.option("checkpointLocation", checkpoint) if checkpoint else w


def parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
) -> DataStreamWriter:
    """Production file sink: append-mode parquet with a checkpoint for
    end-to-end exactly-once (file-sink manifest + WAL offsets mean a
    restarted query neither loses nor duplicates batches). Partition
    columns give downstream readers pruning for free."""
    w = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    return w.partitionBy(*partition_cols) if partition_cols else w


def changelog_sink(
    df: DataFrame,
    key_cols: list[str],
    state_dir: str,
    out_dir: str,
    mode: str = "update",
) -> DataStreamWriter:
    """K4: explicit retract/changelog stream — the first-class
    (+I/−U/+U) surface the reference prints for its retract sample
    (HotItemsWithSql.java:91-92: ``(true, row)`` insert /
    ``(false, row)`` retraction; README.md:1954-1955).

    Spark's update mode re-emits the corrected row but never the
    retraction, so downstream consumers can't undo the old value. This
    sink diffs each update-mode micro-batch against a persisted
    key→value snapshot and appends Flink-changelog-tagged rows to
    ``out_dir``:

    - ``+I`` first value for a key;
    - ``-U`` the superseded value (retraction, Flink's ``false`` row);
    - ``+U`` the corrected value.

    A downstream consumer replaying ``out_dir`` in ``batch_id`` order
    reconstructs the exact result table (sum of +rows minus −rows per
    key), which is the K4 contract.

    Everything stays distributed: the diff is a join on the key
    columns, the snapshot upsert an anti-join + union, both written as
    parquet (the snapshot doubles as the recovery point — the diff of
    a replayed batch against the already-upserted snapshot is empty,
    so restarts don't duplicate changelog rows). One shuffle per batch
    on the key — same cost class as the upstream stateful agg.

    Deployment note: the atomic snapshot swap here is a local-FS
    ``os.rename`` (correct for this harness). On HDFS/S3 swap via the
    Hadoop FileSystem API or make the snapshot a table format with
    atomic overwrite (Delta/Iceberg ``replaceWhere``) — the diff/
    upsert plan is unchanged, only the commit primitive differs."""
    import os

    snap_dir = os.path.join(state_dir, "snapshot")
    value_cols: list[str] | None = None  # resolved on first batch

    def emit(batch: DataFrame, batch_id: int) -> None:
        nonlocal value_cols
        spark = batch.sparkSession
        if value_cols is None:
            value_cols = [c for c in batch.columns if c not in key_cols]
        batch = batch.dropDuplicates(key_cols).persist()
        try:
            have_snap = os.path.isdir(snap_dir)
            if have_snap:
                prev = spark.read.parquet(snap_dir)
            else:
                prev = local_frame(spark, [], batch.schema)
            p = prev.select(
                *key_cols, *[F.col(v).alias(f"_prev_{v}") for v in value_cols]
            )
            joined = batch.join(p, key_cols, "left_outer").persist()
            try:
                is_new = F.col(f"_prev_{value_cols[0]}").isNull()
                changed = ~is_new & ~F.struct(*value_cols).eqNullSafe(
                    F.struct(*[f"_prev_{v}" for v in value_cols])
                )
                inserts = joined.filter(is_new).select(
                    F.lit("+I").alias("op"), *key_cols, *value_cols
                )
                retracts = joined.filter(changed).select(
                    F.lit("-U").alias("op"),
                    *key_cols,
                    *[F.col(f"_prev_{v}").alias(v) for v in value_cols],
                )
                updates = joined.filter(changed).select(
                    F.lit("+U").alias("op"), *key_cols, *value_cols
                )
                out = (
                    inserts.unionByName(retracts)
                    .unionByName(updates)
                    .withColumn("batch_id", F.lit(batch_id))
                )
                out.write.mode("append").parquet(out_dir)
                # upsert snapshot: unchanged prev keys + this batch
                next_snap = prev.join(batch, key_cols, "left_anti").unionByName(batch)
                tmp = os.path.join(state_dir, f"snapshot.{batch_id}")
                next_snap.write.mode("overwrite").parquet(tmp)
                final = os.path.join(state_dir, "snapshot")
                swap = os.path.join(state_dir, f"snapshot.old.{batch_id}")
                if have_snap:
                    os.rename(final, swap)
                os.rename(tmp, final)
                if have_snap:
                    import shutil

                    shutil.rmtree(swap, ignore_errors=True)
            finally:
                joined.unpersist()
        finally:
            batch.unpersist()

    return df.writeStream.outputMode(mode).foreachBatch(emit)
