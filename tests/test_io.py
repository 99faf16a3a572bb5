"""Storage-side scale levers: partition pruning and bucketed
exchange-free joins — asserted from the physical plan, not just
results."""

import pytest
from pyspark.sql import functions as F

from flink_kafka_spark.io import read_table, write_bucketed, write_partitioned
from flink_kafka_spark.tables import load, spread_scan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruning(spark, sf_dir, tmp_path):
    orders = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_part")
    write_partitioned(orders, path, ["o_year"])
    back = spark.read.parquet(path).filter(F.col("o_year") == 1996)
    got = back.count()
    want = orders.filter(F.col("o_year") == 1996).count()
    assert got == want > 0
    # pruned scan reads only the matching partition directory
    scan = [l for l in _plan(back).splitlines() if "Scan parquet" in l or "PartitionFilters" in l]
    assert any("o_year" in l for l in _plan(back).splitlines()), scan


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "orders_b", ["o_orderkey"], 8, ["o_orderkey"], path=str(wh / "o"))
    write_bucketed(l, "lineitem_b", ["l_orderkey"], 8, ["l_orderkey"], path=str(wh / "l"))
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    ot, lt = bucketed_tables
    o = read_table(spark, ot)
    l = read_table(spark, lt)
    # disable auto-broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = _plan(joined)
        # bucket co-location: no shuffle exchange below the join
        join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # correctness unchanged vs unbucketed
        want = (
            load(spark, sf_dir, "lineitem")
            .join(load(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, want.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_bucketed_dedup_index_join_shuffles_batch_side_only(spark, sf_dir, tmp_path):
    """The production incremental-dedup promise (build_dedup_index
    docstring): an index stored BUCKETED by (band, band_hash) makes the
    nightly candidate join shuffle only the batch side INTO the index's
    bucketing — the reference-sized index is read in place, no
    index-side exchange. Asserted from the physical plan: exactly one
    band-keyed exchange (the batch side), a bucketed index scan, and
    candidate pairs identical to the inline-banding path."""
    from flink_kafka_spark.operators.dedup import _lsh_bands, build_dedup_index

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter("pmod(doc_id, 2) = 1")
    ref = docs.filter("pmod(doc_id, 2) = 0")
    write_bucketed(
        build_dedup_index(ref),
        "dedup_idx_b",
        ["band", "band_hash"],
        8,
        ["band", "band_hash"],
        path=str(tmp_path / "idx"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        idx = read_table(spark, "dedup_idx_b")
        cand = (
            _lsh_bands(batch, "doc_id", "batch_id", 3, 32, 8)
            .join(idx, ["band", "band_hash"])
            .select("batch_id", "ref_id")
            .distinct()
        )
        plan = _plan(cand)
        band_exchanges = plan.count("Exchange hashpartitioning(band")
        assert band_exchanges == 1, plan  # batch side only; index read in place
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan
        inline = build_dedup_index(ref)
        want = sorted(
            tuple(r)
            for r in _lsh_bands(batch, "doc_id", "batch_id", 3, 32, 8)
            .join(inline, ["band", "band_hash"])
            .select("batch_id", "ref_id")
            .distinct()
            .collect()
        )
        assert sorted(tuple(r) for r in cand.collect()) == want and len(want) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS dedup_idx_b")


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    """JSONL is the release format: a schema'd read must skip
    inference, round-trip values exactly, and quarantine malformed
    lines in the corrupt column instead of failing the job."""
    from flink_kafka_spark.io import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "alpha", 0.5), (2, "beta", 1.5), (3, None, 2.5)],
        "doc_id long, text string, score double",
    )
    out = str(tmp_path / "release")
    write_jsonl(df, out, n_shards=2)
    import glob

    files = glob.glob(out + "/part-*.json.gz")
    assert len(files) == 2  # exact shard pinning, compressed

    back = read_jsonl(spark, out, "doc_id long, text string, score double")
    assert sorted((r.doc_id, r.text, r.score) for r in back.collect()) == [
        (1, "alpha", 0.5),
        (2, "beta", 1.5),
        (3, None, 2.5),
    ]

    # malformed line lands in the corrupt column, valid rows parse
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "ok", "score": 1.0}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "text": "also ok", "score": 2.0}\n'
    )
    from flink_kafka_spark.caching import release_all
    from flink_kafka_spark.io import split_corrupt

    got = read_jsonl(spark, str(bad), "doc_id long, text string, score double")
    clean, quarantined = split_corrupt(got)
    qrows = quarantined.collect()
    assert len(qrows) == 1 and qrows[0]._corrupt_record == "THIS IS NOT JSON"
    assert clean.count() == 2 and "_corrupt_record" not in clean.columns
    release_all()


def test_compact_parquet_hits_target_count(spark, tmp_path):
    """Compaction must rewrite a fragmented dataset into the
    size-derived shard count (round-robin, no key shuffle) and
    preserve every row."""
    from flink_kafka_spark.io import compact_parquet

    src = str(tmp_path / "fragmented")
    # 200 partitions of a small frame -> 200 tiny files
    spark.range(10_000).repartition(200).write.parquet(src)
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_mb=256)
    assert n == 1  # tiny dataset -> single file target
    import glob

    assert len(glob.glob(out + "/part-*.parquet")) == 1
    assert spark.read.parquet(out).count() == 10_000


def test_bucketed_ivf_index_join_shuffles_query_side_only(spark, sf_dir, tmp_path):
    """The production ANN promise (build_ivf_index docstring): a stored
    cell-bucketed IVF index makes each query batch's candidate join
    shuffle only the query side — the corpus-sized assignment is read
    in place with no index-side exchange, and no KMeans fit runs at
    query time. Asserted from the physical plan (exactly one cell-keyed
    exchange, bucketed scan) plus exact result equality between the
    stored-index and in-memory-index paths."""
    from flink_kafka_spark.operators.similarity import build_ivf_index, cosine_topk_ivf
    from flink_kafka_spark.tables import load

    vecs = load(spark, sf_dir, "embeddings")
    index, cent = build_ivf_index(vecs, n_cells=8)
    write_bucketed(
        index, "ivf_idx_b", ["cell"], 8, ["cell"], path=str(tmp_path / "ivf")
    )
    cent_path = str(tmp_path / "cent")
    cent.write.parquet(cent_path)

    queries = vecs.filter("vec_id < 20")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stored = (
            read_table(spark, "ivf_idx_b"),
            spark.read.parquet(cent_path),
        )
        got = cosine_topk_ivf(queries, None, k=5, nprobe=2, ivf_index=stored)
        plan = _plan(got)
        assert plan.count("Exchange hashpartitioning(cell") == 1, plan
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan
        assert "KMeans" not in plan

        want = cosine_topk_ivf(queries, None, k=5, nprobe=2, ivf_index=(index, cent))
        got_rows = sorted(tuple(r) for r in got.collect())
        assert got_rows == sorted(tuple(r) for r in want.collect())
        assert len(got_rows) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_write_block_shuffled_materializes_the_epoch_order(spark, sf_dir, tmp_path):
    """The on-disk order must equal the query-side contract: for every
    block directory, reading its parquet back in file order yields the
    ids in block_shuffle's block_pos order (shared block_assignment
    arithmetic), every id appears exactly once, and payload columns
    survive the routing."""
    from flink_kafka_spark.io import write_block_shuffled
    from flink_kafka_spark.operators.sampling import block_shuffle
    from flink_kafka_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    out = str(tmp_path / "epoch0")
    write_block_shuffled(docs, out, "doc_id", seed=42, n_blocks=8)

    expected: dict = {}
    for r in block_shuffle(docs.select("doc_id"), "doc_id", seed=42, n_blocks=8).collect():
        expected.setdefault(r.block_id, []).append((r.block_pos, r.doc_id))
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert set(back.columns) == {"doc_id", "source", "block_id"}
    import glob
    import pyarrow.parquet as pq

    for blk, rows in expected.items():
        files = sorted(glob.glob(f"{out}/block_id={blk}/*.parquet"))
        assert len(files) == 1, f"block {blk} split across {len(files)} files"
        got = pq.read_table(files[0], columns=["doc_id"])["doc_id"].to_pylist()
        want = [doc for _, doc in sorted(rows)]
        assert got == want, f"block {blk} disk order != block_pos order"


def test_write_interleaved_materializes_the_stride_order(spark, sf_dir, tmp_path):
    """The on-disk order must equal the query-side schedule: reading
    each shard directory's parquet back in file order yields the ids
    in source_interleave's position order (same operator arithmetic),
    every id appears exactly once across shards, shard directories
    are single-file, and payload columns survive the join."""
    from flink_kafka_spark.io import write_interleaved
    from flink_kafka_spark.operators.sampling import source_interleave
    from flink_kafka_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = str(tmp_path / "mix0")
    w = {"src0": 3, "src1": 2}
    write_interleaved(docs, out, weights=w, seed=42, shard_size=50)

    expected: dict = {}
    for r in source_interleave(docs, weights=w, seed=42, shard_size=50).collect():
        expected.setdefault(r.shard_id, []).append((r.position, r.doc_id))
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert {"doc_id", "source", "n_chars", "position", "shard_id"} <= set(back.columns)
    import glob
    import pyarrow.parquet as pq

    seen = []
    for shard, rows in expected.items():
        files = sorted(glob.glob(f"{out}/shard_id={shard}/*.parquet"))
        assert len(files) == 1, f"shard {shard} split across {len(files)} files"
        got = pq.read_table(files[0], columns=["doc_id"])["doc_id"].to_pylist()
        want = [doc for _, doc in sorted(rows)]
        assert got == want, f"shard {shard} disk order != position order"
        seen.extend(got)
    assert sorted(seen) == sorted(r.doc_id for r in docs.select("doc_id").collect())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestSpreadScan:
    """tables.spread_scan — the centralized small-scan fan-out gate."""

    def test_spreads_single_file_scan_to_parallelism(self, spark, sf_dir):
        docs = load(spark, sf_dir, "documents")
        par = spark.sparkContext.defaultParallelism
        assert spread_scan(docs).rdd.getNumPartitions() == par

    def test_noop_on_memory_backed_frame(self, spark):
        # no input files -> layout unknowable -> frame returned as-is
        df = spark.range(10)
        assert spread_scan(df) is df

    def test_row_multiset_preserved(self, spark, sf_dir):
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        assert _rows(spread_scan(docs)) == _rows(docs)


def test_local_frame_equals_the_list_path_and_runs_no_job(spark):
    """``io.local_frame`` holds the same rows as ``createDataFrame``
    over a Python list, typed from the schema alone: a long above 2^53
    next to a NULL stays exact (pandas dtype inference would round it
    through float64), and binary, array<double>, timestamp and date
    columns keep their values and instants. A naive datetime (what
    ``collect()`` returns) is local time on both paths, and an aware
    one keeps its offset, checked under a non-UTC process zone. The frame is a LocalRelation, so collecting
    it runs no Spark job."""
    import datetime as dt
    import os
    import time

    from flink_kafka_spark.io import local_frame

    utc, plus2 = dt.timezone.utc, dt.timezone(dt.timedelta(hours=2))
    schema = "id long, s string, sk binary, v array<double>, ts timestamp, d date"
    ts = [
        dt.datetime(2020, 1, 2, 3, 4, 5, 6, tzinfo=utc),
        dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=utc),
    ]
    rows = [
        (2**53 + 1, "a", b"\x00\xff", [1.0, -2.5], ts[0], dt.date(2020, 1, 2)),
        (None, None, None, None, None, None),
        (-(2**62) - 1, "é", b"", [], ts[1], dt.date(1900, 1, 1)),
        (6, "+02:00", None, None, dt.datetime(2021, 7, 1, 4, tzinfo=plus2), None),
        (7, "naive", None, [0.5], dt.datetime(2021, 6, 30, 22, 15, 1, 250), None),
    ]
    sc = spark.sparkContext
    tz = os.environ.get("TZ")
    os.environ["TZ"] = "EST5EDT,M3.2.0,M11.1.0"
    time.tzset()
    try:
        for data in ([], rows):
            want = spark.createDataFrame(data, schema)
            group = f"local_frame_{len(data)}"
            sc.setJobGroup(group, "local_frame")
            try:
                got = local_frame(spark, data, schema)
                got_rows = got.collect()
            finally:
                sc._jsc.clearJobGroup()
            assert got_rows == want.collect()
            assert got.schema == want.schema
            assert got._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert got_rows[-1].ts == rows[-1][4]  # the naive row round-trips
    finally:
        if tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = tz
        time.tzset()
