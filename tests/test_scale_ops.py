"""Scale-path operators: salted aggregation equivalence and HLL++
approximate-distinct accuracy."""

import pytest

from pyspark.sql import functions as F

from flink_kafka_spark.operators.windows import (
    salted_count,
    windowed_distinct,
)
from flink_kafka_spark.tables import load


def test_salted_count_equals_plain(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    got = sorted(map(tuple, salted_count(events, ["event_type"]).collect()))
    want = sorted(
        map(tuple, events.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect())
    )
    assert got == want
    # and the plan really has the two-phase shape: shuffle on
    # (key, salt) then on key
    plan = salted_count(events, ["event_type"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") >= 2


def test_uv_approx_within_rsd(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    exact = {
        (r.window_start_s): r.uv
        for r in windowed_distinct(events, "ts", "1 day", "user_id").collect()
    }
    approx = {
        (r.window_start_s): r.uv
        for r in windowed_distinct(
            events, "ts", "1 day", "user_id", approximate=True, rsd=0.02
        ).collect()
    }
    assert set(exact) == set(approx)
    for w, ex in exact.items():
        # HLL++ at rsd=0.02: allow 5 sigma
        assert abs(approx[w] - ex) <= max(0.1 * ex, 5), (w, ex, approx[w])


@pytest.mark.slow  # slow tier: dedup_simhash_check's invariant oracle runs in the default sweep
def test_simhash_matches_python(spark, sf_dir):
    import hashlib

    from flink_kafka_spark.operators.dedup import simhash

    docs = load(spark, sf_dir, "documents").limit(25)
    got = {r.doc_id: r.simhash for r in simhash(docs).collect()}

    def py_simhash(text, bits=64):
        toks = [t for t in text.lower().split()]
        acc = [0] * bits
        for t in toks:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            for b in range(bits):
                acc[b] += 1 if (h >> b) & 1 else -1
        v = 0
        for b in range(bits):
            if acc[b] > 0:
                v |= 1 << b
        return v - (1 << 64) if v >= (1 << 63) else v

    for r in docs.collect():
        assert got[r.doc_id] == py_simhash(r.text), r.doc_id


def test_fine_slide_rollup_equals_expand(spark, sf_dir):
    from flink_kafka_spark.operators.windows import _project_bounds, windowed_count

    events = load(spark, sf_dir, "events")
    # 2h/2min = ratio 60 -> auto rollup path
    got = sorted(
        map(tuple, windowed_count(events, "ts", "2 hours", "2 minutes", ["event_type"]).collect())
    )
    w = F.window("ts", "2 hours", "2 minutes")
    want = sorted(
        map(
            tuple,
            _project_bounds(
                events.groupBy(w.alias("_w"), "event_type").agg(F.count(F.lit(1)).alias("cnt")),
                ["event_type"],
                ["cnt"],
            ).collect(),
        )
    )
    assert got == want
    # the rollup plan must NOT contain the ratio-fold Expand
    plan = (
        windowed_count(events, "ts", "2 hours", "2 minutes", ["event_type"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in plan


def test_stratified_sample_fractions_and_determinism(spark, sf_dir):
    from flink_kafka_spark.operators.sampling import stratified_sample, train_val_test_split

    events = load(spark, sf_dir, "events")
    fr = {"view": 0.5, "click": 0.2}
    s1 = stratified_sample(events, "event_type", fr, seed=7)
    s2 = stratified_sample(events, "event_type", fr, seed=7)
    # deterministic for a fixed seed+partitioning
    assert sorted(r.event_id for r in s1.collect()) == sorted(r.event_id for r in s2.collect())
    # only requested strata survive; fractions approximately honored
    got = {r.event_type: r.cnt for r in s1.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    tot = {r.event_type: r.cnt for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(got) <= set(fr)
    for k, f in fr.items():
        assert abs(got.get(k, 0) / tot[k] - f) < 0.15, (k, got.get(k), tot[k])

    # split assignment is a pure function of the id: stable under repartition
    docs = load(spark, sf_dir, "documents").select("doc_id")
    a = {r.doc_id: r.split for r in train_val_test_split(docs, "doc_id").collect()}
    b = {r.doc_id: r.split for r in train_val_test_split(docs.repartition(13), "doc_id").collect()}
    assert a == b
    from collections import Counter
    dist = Counter(a.values())
    assert dist["train"] > dist["val"] and dist["train"] > dist["test"]


def test_connected_components_chain_and_singletons(spark):
    """A 12-node chain needs multiple hash-to-min rounds (diameter >
    1); isolated nodes must come out as their own singleton clusters."""
    from flink_kafka_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(100, 111)]          # one 12-node component
    pair = [(200, 201)]                                    # one 2-node component
    edges = spark.createDataFrame(chain + pair, ["id_a", "id_b"])
    nodes = spark.createDataFrame(
        [(i,) for i in range(100, 112)] + [(200,), (201,), (300,)], ["doc_id"]
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges, nodes).collect()
    }
    want = {(i, 100) for i in range(100, 112)} | {(200, 200), (201, 200), (300, 300)}
    assert got == want


def test_match_sequence_strict_vs_relaxed(spark):
    """fail,fail with an intervening success must match relaxed but
    not strict; consecutive fails match both; within bound enforced."""
    import datetime as dt

    from flink_kafka_spark.operators.patterns import match_sequence

    def t(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # user 1: fail, success, fail  -> relaxed only
        (1, 1, t(0), "fail"), (1, 2, t(1), "success"), (1, 3, t(2), "fail"),
        # user 2: fail, fail           -> both
        (2, 4, t(10), "fail"), (2, 5, t(11), "fail"),
        # user 3: fail ... fail too far apart for within=5
        (3, 6, t(20), "fail"), (3, 7, t(40), "fail"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "state"])
    steps = [("f1", "state = 'fail'"), ("f2", "state = 'fail'")]
    strict = {
        (r.user_id, r.ts_f1, r.ts_f2)
        for r in match_sequence(
            df, "user_id", "ts", steps, within_s=5,
            contiguity="strict", order_tiebreak="event_id",
        ).collect()
    }
    relaxed = {
        (r.user_id, r.ts_f1, r.ts_f2)
        for r in match_sequence(
            df, "user_id", "ts", steps, within_s=5, contiguity="relaxed"
        ).collect()
    }
    base = 1704067200  # 2024-01-01 00:00:00 UTC epoch
    assert strict == {(2, base + 10, base + 11)}
    assert relaxed == {(1, base + 0, base + 2), (2, base + 10, base + 11)}


def test_connected_components_nonconvergence_raises(spark):
    import pytest as _pytest

    from flink_kafka_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(50)]  # diameter 50 > max_iter 3
    edges = spark.createDataFrame(chain, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(51)], ["doc_id"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iter=3)


def test_pii_scan_and_redact_on_crafted_text(spark):
    """The documents fixture is PII-free word soup (all-zero counts
    only prove plumbing) — crafted rows prove the patterns actually
    catch and redact emails, URLs, and long digit runs."""
    from flink_kafka_spark.operators.text import pii_scan, redact_pii

    docs = spark.createDataFrame(
        [
            (1, "contact Bob.Smith+hr@Example.ORG or call 5551234567 now"),
            (2, "see https://spark.apache.org/docs for details"),
            (3, "plain text with short digits 12345 only"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert (got[1].n_emails, got[1].n_digit_runs, got[1].has_pii) == (1, 1, 1)
    assert (got[2].n_urls, got[2].has_pii) == (1, 1)
    assert (got[3].n_emails, got[3].n_urls, got[3].n_digit_runs, got[3].has_pii) == (0, 0, 0, 0)
    red = {r.doc_id: r.redacted_text for r in redact_pii(docs).collect()}
    assert red[1] == "contact <EMAIL> or call <NUM> now"
    assert red[2] == "see <URL> for details"
    assert red[3] == "plain text with short digits 12345 only"


def test_contamination_overlap_crafted(spark):
    """A corpus doc containing a benchmark 5-gram is flagged with the
    right overlap count; disjoint docs are not."""
    from flink_kafka_spark.operators.text import contamination_overlap

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # contains both benchmark 5-grams (positions 1-5 and 2-6)
            (1, "x alpha beta gamma delta epsilon zeta y"),
            (2, "totally different words with no shared phrases at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_overlap for r in contamination_overlap(corpus, bench, n=5).collect()}
    assert got == {1: 2}


def test_salted_join_equals_plain(spark, sf_dir):
    """salted_join (manual hot-key spread) must be row-identical to
    the plain equi-join on skewed data (one key carrying half the
    rows)."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.joins import salted_join

    left = spark.range(2000).select(
        F.when(F.col("id") < 1000, 7).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lid"),
    )
    right = spark.createDataFrame(
        [(7, "hot"), (1500, "cold"), (9999, "miss")], "rk long, tag string"
    )
    got = sorted(
        (r.lid, r.tag)
        for r in salted_join(left, right, "k", "rk", n_salts=8).collect()
    )
    want = sorted(
        (r.lid, r.tag)
        for r in left.join(right, left.k == right.rk, "inner").collect()
    )
    assert got == want and len(want) == 1001  # 1000 hot + 1 cold


def test_split_bucket_extreme_ids_cross_engine(spark):
    """The Knuth split bucket must agree between Spark and DuckDB and
    never overflow int64 — including ids past ~3.47e9 where the raw
    (unreduced) multiply used to wrap. Max BIGINT id
    included: ANSI Spark would error on overflow rather than wrap."""
    import duckdb

    from flink_kafka_spark.operators.sampling import split_bucket_expr, split_bucket_sql

    ids = [0, 1, 999, 3_470_000_000, 2**40, 2**62, 2**63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: r.b
        for r in df.select("doc_id", split_bucket_expr("doc_id").alias("b")).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT doc_id, {split_bucket_sql('doc_id')} FROM "
            "(SELECT unnest(?::BIGINT[]) AS doc_id)",
            [ids],
        ).fetchall()
    )
    assert got == want and set(got) == set(ids)


def test_mixture_resample_null_source_stratum_kept(spark):
    """A NULL source is a real stratum: the threshold join-back is
    null-safe, so its documents stay in the output (the plain-equality
    join silently dropped every NULL-source doc from the release), and
    the stratum behaves exactly as a default-weighted named source —
    same keep decisions as the identical corpus with NULL coalesced to
    an unweighted sentinel."""
    from flink_kafka_spark.operators.sampling import mixture_resample

    rows = [(i, "a", 100) for i in range(20)] + [
        (100 + i, None, 100) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = mixture_resample(df, {"a": 3}, budget_permille=500).collect()
    assert len(out) == 40
    assert sum(1 for r in out if r["source"] is None) == 20

    sent = df.withColumn("source", F.coalesce("source", F.lit("zzz")))
    ref = {
        r["doc_id"]: r["keep"]
        for r in mixture_resample(sent, {"a": 3}, budget_permille=500).collect()
    }
    assert {r["doc_id"]: r["keep"] for r in out} == ref
