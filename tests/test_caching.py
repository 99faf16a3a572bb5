"""Operator-internal persists must be released at the next query
boundary: a long-lived session sweeping many
queries — the driver's correctness pass, bench.py — must not
accumulate cached blocks. ``observe.run``, the harnesses' run path,
counts leaked RDDs and releases even when a build fails, and
``observe.read`` attributes to a run exactly its own jobs."""

import pytest

from flink_kafka_spark import caching, observe
from flink_kafka_spark.queries import Query, all_queries


def test_internal_persists_released_at_query_boundary(spark, sf_dir):
    qs = all_queries()
    caching.release_all()
    before = caching.persistent_rdd_ids(spark.sparkContext)

    # dedup_minhash_lsh persists its candidate pairs and the
    # candidates-only shingle sets internally (two tracked frames)
    qs["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    during = caching.persistent_rdd_ids(spark.sparkContext)
    added = during - before
    assert added, "expected the minhash internal persists to be live"
    assert len(caching._LIVE) == 2

    # invoking the NEXT registered query releases the previous persists
    qs["dedup_exact"].fn(spark, sf_dir).collect()
    after = caching.persistent_rdd_ids(spark.sparkContext)
    assert not (added & after), "previous query's persist leaked across the boundary"
    assert len(caching._LIVE) == 0


def test_release_all_idempotent(spark):
    assert caching.release_all() == 0
    assert caching.release_all() == 0


def test_release_scope_releases_only_inner_persists(spark):
    """Micro-batch lifecycle: persists tracked inside the scope are
    released at exit; the enclosing session's tracked frames stay."""
    caching.release_all()
    outer = caching.track(spark.range(10).persist())
    outer.count()
    with caching.release_scope():
        inner = caching.track(spark.range(20).persist())
        inner.count()
        assert len(caching._LIVE) == 2
    assert caching._LIVE == [outer]
    assert outer.storageLevel.useMemory  # outer still cached
    assert not inner.storageLevel.useMemory  # inner released
    caching.release_all()


def test_run_reports_untracked_persist_as_leak(spark):
    """An RDD persisted outside caching.track survives release_all and
    clearCache; the run record must count it."""
    planted = []

    def build(spark, sf_dir):
        rdd = spark.sparkContext.parallelize(range(10)).persist()
        rdd.count()
        planted.append(rdd)
        return spark.range(100)

    try:
        rec = observe.run(spark, Query("planted_leak", build), "")
        assert rec["leaked_rdds"] > 0
        assert rec["wall_s"] == pytest.approx(rec["build_s"] + rec["action_s"])
    finally:
        planted[0].unpersist()
    assert observe.run(spark, Query("clean", lambda s, d: s.range(100)), "")["leaked_rdds"] == 0


def test_run_cleans_up_after_a_failing_build(spark):
    """A build that raises after tracking a persist leaves no job group
    behind and still releases what it tracked."""
    caching.release_all()
    held = []

    def build(spark, sf_dir):
        df = caching.track(spark.range(30).persist())
        df.count()
        held.append(df)
        raise RuntimeError("boom")

    before = caching.persistent_rdd_ids(spark.sparkContext)
    with pytest.raises(RuntimeError, match="boom"):
        observe.run(spark, Query("fails", build), "")
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert caching._LIVE == []
    assert not held[0].storageLevel.useMemory
    assert caching.persistent_rdd_ids(spark.sparkContext) <= before


def test_read_attributes_only_the_runs_jobs(spark):
    """One eager job in the build plus the noop write: two jobs, and an
    untagged action afterwards is not attributed to the run."""

    def build(spark, sf_dir):
        spark.range(10).collect()
        return spark.range(1000)

    rec = observe.run(spark, Query("two_jobs", build), "")
    first = observe.read(spark, rec, sql=True)
    assert first["jobs"] == 2
    assert first["build_jobs"] == 1
    assert first["stages"] == len(first["stage_rows"]) >= 2
    assert first["tasks"] >= 2
    assert 0.0 <= first["driver_gap_s"] <= rec["wall_s"]
    assert "Range" in first["plan"]
    assert {o["node"] for o in first["operators"]} >= {"Range"}
    spark.range(50).collect()
    again = observe.read(spark, rec)
    assert (again["jobs"], again["stages"], again["tasks"]) == (
        first["jobs"], first["stages"], first["tasks"])


# the ten queries of the benchmark's reference_surface workload
REFERENCE_SURFACE = (
    "hot_items_topn page_views unique_visitors channel_stats login_fail_detect "
    "order_timeout sessionize funnel_conversions tpch_q3 tpch_q6"
).split()


def test_steady_pass_compiles_no_class(spark, sf_dir):
    """Spark's generated-code cache holds the engine's working set, so
    a query run a second time compiles nothing. The ten queries here
    compile 108 distinct classes at sf0.001, more than Spark's default
    of 100 entries: at that default the second pass compiled 58 of
    them again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"
    qs = all_queries()
    passes = [
        sum(observe.run(spark, qs[n], sf_dir)["codegen_compiles"] for n in REFERENCE_SURFACE)
        for _ in range(2)
    ]
    assert passes[1] == 0, passes


def test_rerun_generates_the_same_classes(spark, sf_dir):
    """With ``spark.sql.codegen.useIdInClassName`` off, a generated class
    is named after its code, not after the stage id of the run, so a
    plan run again finds its classes in the cache. kmv_set_cardinality
    recompiled 10 classes on its second sf0.001 run with the id in the
    name."""
    q = all_queries()["kmv_set_cardinality"]
    observe.run(spark, q, sf_dir)
    assert observe.run(spark, q, sf_dir)["codegen_compiles"] == 0
