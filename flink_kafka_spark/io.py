"""Batch I/O helpers: driver-side rows as local frames, partitioned
and bucketed parquet, symmetric read/write.

At 100 TB the dominant costs are scan bytes and shuffle bytes. These
helpers encode the two storage-side levers:

- **partitionBy(date/tenant/...)**: directory-level partition pruning —
  a date-filtered query touches only its partitions' files.
- **bucketBy(key)**: pre-shuffled storage. Two tables bucketed on the
  same key with the same bucket count join with NO exchange on either
  side (and groupBy on the bucket key skips its exchange too) — the
  shuffle is paid once at write time instead of every query. Bucketed
  writes go through ``saveAsTable`` (bucket metadata lives in the
  catalog; plain parquet paths can't carry it).

Bucket-count sizing: aim for ~128-512 MB of post-compression data per
bucket per partition at the target scale; too few buckets caps join
parallelism, too many makes small files.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: "StructType | str"
) -> DataFrame:
    """A DataFrame of driver-side Python ``rows`` (tuples in ``schema``
    column order; ``schema`` a StructType or DDL string) — the one way
    the engine turns driver values into a frame.

    The rows become a ``pyarrow.Table`` typed column by column from the
    Spark schema, so no pandas dtype inference runs (a ``long`` above
    2^53 next to a NULL stays exact instead of rounding through
    float64, and an empty frame keeps its types). A ``timestamp``
    value is moved to UTC first: a naive one is local time, as the
    list path and ``collect()`` read it, and pyarrow would read its
    wall clock as UTC (and drop an aware one's fixed offset), so
    collected timestamps fed back keep their instant whatever the
    host's zone. Below
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark plans
    the table as a ``LocalRelation``: an action over it runs in the
    driver, with no Spark job. ``createDataFrame`` over a plain Python
    list instead parallelizes the rows into ``defaultParallelism``
    pickled slices, and every action over them pays a wide stage of
    Python-worker round-trips — 1–2 jobs and ~0.4 s for a 16-row frame
    on 4 cores, against ~25 ms here. Above the threshold Spark
    parallelizes the Arrow batches itself, so large inputs stay
    scale-safe."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [
            pa.array(
                [_utc(x) for x in c] if getattr(f.type, "tz", None) else c,
                type=f.type,
            )
            for c, f in zip(cols, arrow)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _utc(x):
    # a naive datetime is local time, like TimestampType.toInternal's
    # time.mktime
    return None if x is None else x.astimezone(datetime.timezone.utc)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Write parquet with directory partitioning (pruning lever)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Write a bucketed (optionally sort-within-bucket) catalog table.
    Joins/aggregations on ``bucket_cols`` against an equally-bucketed
    table run exchange-free. ``path`` overrides the warehouse location
    (bucket metadata still lives in the catalog — saveAsTable is
    required; plain parquet paths can't carry it)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: "str | None" = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Read newline-delimited JSON — the lingua franca of LLM training
    data release. With an explicit ``schema`` the reader skips the
    inference pass (at 100 TB, inference is a full extra scan) and
    captures malformed lines in ``corrupt_col`` instead of failing the
    job (PERMISSIVE mode): filter ``corrupt_col IS NOT NULL`` for the
    quarantine stream, ``IS NULL`` for the clean one. Schema-less
    calls fall back to inference for ad-hoc exploration."""
    r = spark.read
    if schema is not None:
        # the corrupt column must exist in the schema for PERMISSIVE
        # capture; appending it here keeps call sites declarative
        r = r.schema(f"{schema}, {corrupt_col} string").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    return r.option("mode", "PERMISSIVE").json(path)


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> "tuple[DataFrame, DataFrame]":
    """Split a PERMISSIVE :func:`read_jsonl` frame into
    ``(clean, quarantined)``. Spark refuses queries on the RAW
    file-scan frame whose referenced columns are only the internal
    corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    COLUMN) — the parse must be materialized first, so this registers
    ONE cached parse feeding both sides (released at the next query
    boundary under the flink_kafka_spark.caching contract). For a
    100 TB ingest prefer writing the parsed frame to storage once and
    splitting the saved copy — a cache of that size belongs on disk,
    not in the block store."""
    from .caching import track

    parsed = track(df.cache())
    return (
        parsed.filter(F.col(corrupt_col).isNull()).drop(corrupt_col),
        parsed.filter(F.col(corrupt_col).isNotNull()),
    )


def write_jsonl(
    df: DataFrame,
    path: str,
    n_shards: "int | None" = None,
    compression: str = "gzip",
    mode: str = "overwrite",
) -> None:
    """Write newline-delimited JSON release shards. ``n_shards`` pins
    the exact output file count (round-robin repartition — balanced
    shards regardless of upstream partitioning skew); None keeps the
    upstream partitioning and writes one file per partition.
    Compressed by default: JSONL is ~10x more verbose than parquet,
    and release artifacts are read once per consumer."""
    w = df.repartition(n_shards) if n_shards else df
    w.write.mode(mode).option("compression", compression).json(path)


def compact_parquet(
    spark: SparkSession, path: str, out_path: str, target_mb: int = 256
) -> int:
    """Rewrite a parquet dataset into ~``target_mb`` files — the
    small-file compaction every long-running pipeline needs (streaming
    sinks and over-parallel writes leave thousands of KB-sized files;
    at 100 TB the NameNode/driver pays per-file costs and scans lose
    sequential reads). File count = ceil(on-disk bytes / target), so
    the rewrite is one round-robin repartition — no key shuffle, no
    skew sensitivity. Returns the shard count written."""
    df = spark.read.parquet(path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(jvm_path).getLength()
    n = max(1, -(-total // (target_mb * 1024 * 1024)))
    df.repartition(int(n)).write.mode("overwrite").parquet(out_path)
    return int(n)


def write_block_shuffled(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    seed: int = 42,
    n_blocks: int = 64,
    mode: str = "overwrite",
) -> None:
    """Materialize an epoch's training order on disk: the write-side
    twin of ``operators.sampling.block_shuffle``. Rows are routed with
    the SAME block/order arithmetic (shared ``block_assignment``
    projections, so disk order and the query-side ``block_pos`` can
    never disagree), hash-repartitioned on block_id, sorted inside
    each task by the order key, and written as parquet partitioned by
    ``block_id`` — a reader streams block directories in any
    interleave and receives rows inside each block in the shuffled
    order for free (parquet preserves within-file row order).

    Cost: ONE exchange plus an in-partition sort — the data movement
    an epoch shuffle cannot avoid, and nothing more (no global rank,
    no boundary sampling; contrast the global-permutation exporter's
    range machinery). Each block lands in one task, so each block
    directory holds one file — PROVIDED ``spark.sql.files.
    maxRecordsPerFile`` is unset/0 (the default): with a cap set, a
    block splits into part files and a reader must glob them in
    FILENAME order (part numbers are assigned in row order within the
    task, so lexicographic filename order still preserves the epoch
    order — but rely on it explicitly, don't assume one file). Size
    ``n_blocks`` so a block's rows fit a task (~128-512 MB
    post-compression, the bucket-sizing rule above)."""
    from .operators.sampling import block_assignment

    routed = block_assignment(df, id_col, seed, n_blocks)
    (
        routed.repartition(n_blocks, "block_id")
        .sortWithinPartitions("block_id", "_k")
        .drop("_k")
        .write.mode(mode)
        .partitionBy("block_id")
        .parquet(path)
    )


def write_interleaved(
    df: DataFrame,
    path: str,
    source_col: str = "source",
    id_col: str = "doc_id",
    weights: "dict[str, int] | None" = None,
    seed: int = 42,
    shard_size: int = 100,
    mode: str = "overwrite",
) -> None:
    """Materialize the stride-scheduled training order on disk: the
    write-side twin of ``operators.sampling.source_interleave``. The
    schedule (same operator, same arithmetic — disk order and the
    query-side ``position`` can never disagree) is joined back to the
    payload and written as parquet partitioned by ``shard_id``, rows
    inside each shard sorted by ``position`` — a reader streaming
    shard directories in shard_id order receives the exact weighted
    interleave (parquet preserves within-file row order; with a
    ``maxRecordsPerFile`` cap, glob part files in FILENAME order —
    the write_block_shuffled contract).

    Cost: the operator's rank machinery (one per-source rn shuffle +
    the export_shards range partition) plus one shard exchange for
    the write — the payload crosses the wire once; the
    schedule-to-payload join is on the id and AQE-planned."""
    from .operators.sampling import source_interleave

    sched = source_interleave(
        df, source_col, id_col, weights, seed=seed, shard_size=shard_size
    ).select(id_col, "position", "shard_id")
    n_shards = sched.sparkSession.sparkContext.defaultParallelism
    (
        df.join(sched, id_col)
        .repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "position")
        .write.mode(mode)
        .partitionBy("shard_id")
        .parquet(path)
    )
