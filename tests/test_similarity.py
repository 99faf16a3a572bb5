"""ANN variants: the approximate paths (SRP-LSH, IVF) must agree with
the exact brute-force twin on a healthy fraction of neighbors —
pinning real recall, not just runs-without-error."""

import pytest

from flink_kafka_spark.queries.similarity import (
    ann_cosine_topk,
    ann_cosine_topk_ivf,
    ann_cosine_topk_lsh,
)


def _neighbor_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


@pytest.fixture(scope="module")
def exact(spark, sf_dir):
    return _neighbor_sets(ann_cosine_topk(spark, sf_dir))


def _recall(approx, exact):
    hits = sum(len(approx.get(q, set()) & n) for q, n in exact.items())
    total = sum(len(n) for n in exact.values())
    return hits / total


def test_ivf_recall(spark, sf_dir, exact):
    got = _neighbor_sets(ann_cosine_topk_ivf(spark, sf_dir))
    assert set(got) == set(exact)  # every query answered
    assert _recall(got, exact) >= 0.5


def test_lsh_runs_and_overlaps(spark, sf_dir, exact):
    # the synthetic embeddings have no strong neighbor structure (top-10
    # cosines ~0.3), so SRP recall is bounded by collision probability
    # (~0.46 for 4 planes + Hamming-1 probes at theta ~70 deg); assert
    # the method delivers at least half of that bound
    got = _neighbor_sets(ann_cosine_topk_lsh(spark, sf_dir))
    assert _recall(got, exact) > 0.25


def test_int8_recall_near_exact(spark, sf_dir, exact):
    # int8 symmetric quantization perturbs cosines by ~1/127 per
    # component pair; on near-uniform synthetic embeddings (top-10
    # cosines ~0.3, gaps often < the quantization noise) rank
    # stability is still high
    from flink_kafka_spark.queries.similarity import ann_cosine_topk_int8

    got = _neighbor_sets(ann_cosine_topk_int8(spark, sf_dir))
    assert set(got) == set(exact)
    assert _recall(got, exact) >= 0.8


@pytest.mark.slow  # slow tier: semantic_dedup_check's invariant oracle runs in the default sweep
def test_semantic_dedup_planted_groups(spark):
    """Min-id survivor rule on a constructed corpus: three well-
    separated duplicate groups (k-means must isolate them) plus
    orthogonal singletons — each group keeps exactly its smallest id,
    every singleton survives, and the keep column is total."""
    from flink_kafka_spark.operators.similarity import semantic_dedup

    dim = 8

    def vec(axis, scale=1.0, bump=0.0):
        v = [0.0] * dim
        v[axis] = scale
        v[(axis + 1) % dim] = bump  # tiny in-group perturbation
        return v

    rows = []
    # groups on axes 0,1,2: ids {0,1,2}, {3,4}, {5,6,7}
    for gid, (axis, ids) in enumerate([(0, [0, 1, 2]), (1, [3, 4]), (2, [5, 6, 7])]):
        for j, i in enumerate(ids):
            rows.append((i, vec(axis, 1.0 + 0.01 * j, 0.02 * j)))
    # singletons on axes 3,4 (cosine ~0 to everything else)
    rows.append((8, vec(3)))
    rows.append((9, vec(4)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(df, n_cells=5, threshold=0.9).collect()}
    assert set(out) == set(range(10))
    kept = {i for i, r in out.items() if r.keep == 1}
    assert kept == {0, 3, 5, 8, 9}
    # group members landed in one cell each (k-means isolated them)
    for ids in ([0, 1, 2], [3, 4], [5, 6, 7]):
        assert len({out[i].cell for i in ids}) == 1


def test_centroid_drift_planted_geometry(spark):
    """Planted groups with known centroids: group 0's centroid IS the
    e0 axis, group 1's is e1, global is their count-weighted mix —
    cos_to_global and norm_ratio must match closed-form values."""
    import math

    from flink_kafka_spark.operators.similarity import centroid_drift

    dim = 4
    rows = []
    # group 0: 3 copies of 2*e0; group 1: 1 copy of 2*e1
    for i in range(3):
        rows.append((0, [2.0, 0.0, 0.0, 0.0]))
    rows.append((1, [0.0, 2.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    out = {r.label: r for r in centroid_drift(df).collect()}
    # global centroid = (3*2e0 + 2e1)/4 = (1.5, 0.5, 0, 0)
    g = [1.5, 0.5, 0.0, 0.0]
    gn = math.sqrt(sum(x * x for x in g))
    assert out[0].n_vecs == 3 and out[1].n_vecs == 1
    assert abs(out[0].cos_to_global - round(1.5 / gn, 6)) < 2e-6
    assert abs(out[1].cos_to_global - round(0.5 / gn, 6)) < 2e-6
    assert abs(out[0].norm_ratio - round(2.0 / gn, 6)) < 2e-6
    assert abs(out[1].norm_ratio - round(2.0 / gn, 6)) < 2e-6


def test_centroid_drift_scan_reuse(spark, sf_dir):
    """The corpus centroid derives from the SAME (group, dim) sum
    frame as the per-group centroids: after AQE plans the query, the
    shared aggregate exchange is reused — the table is not re-scanned
    for the global side (the static plan prints two scan subtrees; the
    runtime plan must show the reuse)."""
    from flink_kafka_spark.queries.similarity import embedding_drift

    df = embedding_drift(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 1, plan


def test_centroid_drift_zero_norm_group_degrades_to_null(spark):
    """A group whose quantized centroid is the all-zero vector has no
    direction: cosine and norm_ratio must come back NULL (the DQ
    NULL-degradation convention) instead of tripping ANSI
    DIVIDE_BY_ZERO and killing the job — and the nonzero groups'
    scores must be unaffected."""
    from flink_kafka_spark.operators.similarity import centroid_drift

    df = spark.createDataFrame(
        [("z", [0.0, 0.0]), ("z", [0.0, 0.0]), ("b", [1.0, 0.5]), ("b", [1.0, 0.5])],
        "label string, embedding array<float>",
    )
    out = {r["label"]: r for r in centroid_drift(df).collect()}
    assert out["z"]["cos_to_global"] is None
    assert out["z"]["norm_ratio"] is not None  # nl=0 is fine when ng>0
    assert out["z"]["norm_ratio"] == 0.0
    assert out["b"]["cos_to_global"] is not None
    assert out["b"]["norm_ratio"] > 0
