"""Similarity-search query family (engine extension) on `embeddings`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    _DOT,
    _NORM,
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    cosine_topk_pq,
    semantic_dedup,
)
from ..io import local_frame
from ..tables import load
from . import Query

N_QUERY_VECS = 8
TOP_K = 10


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_bruteforce(queries, emb, k=TOP_K)


# ONE DuckDB encoding of the exact-cosine scoring chain (query-filter
# parameterized), shared by the brute-force oracle here and the
# hybrid-RRF dense side in textops — the _WINNOW_HS_CTES discipline:
# the cosine math can never drift between its oracle consumers.
_ANN_SCORED_CTES = """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ann_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(
           list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) /
           (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i]))) *
            sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])))), 6) AS cosine
  FROM (SELECT * FROM v WHERE {qfilter}) q
  CROSS JOIN v c
  WHERE q.vec_id <> c.vec_id
),
ann_ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM ann_scored
)"""

ANN_TOPK_ORACLE = f"""
WITH {_ANN_SCORED_CTES.format(qfilter=f"vec_id < {N_QUERY_VECS}")}
SELECT query_id, neighbor_id, cosine, rank FROM ann_ranked
WHERE rank <= {TOP_K}
"""


def ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate variant: SRP-LSH bucketing (xxhash64-derived
    hyperplanes — not reproducible in DuckDB → rows-only check; the
    exact twin `ann_cosine_topk` carries the hash-checked oracle).

    4 planes + Hamming-1 multi-probe: the synthetic embeddings are
    near-uniform (true top-10 cosines ≈ 0.25-0.39), so narrow buckets
    would degenerate to sampling; on a corpus with genuine near-dups
    more planes prune harder at the same recall."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_lsh(queries, emb, k=TOP_K, n_planes=4, probe_hamming=1)


def ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF variant: KMeans coarse quantizer + nprobe cell probing
    (model-dependent cell assignment → rows-only check; recall vs the
    exact twin is pinned in tests/test_similarity.py)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_ivf(queries, emb, k=TOP_K)


# --- property oracles for the hash/model-dependent ANN paths ---
#
# Same pattern as the dedup check queries: the approx result can't be
# reproduced in DuckDB (xxhash64 hyperplanes / KMeans model), but its
# invariants can be driver-hashed — every returned cosine must equal
# the independently recomputed true cosine, and recall vs the exact
# brute-force twin must clear a bound. The synthetic embeddings are
# near-uniform (true top-10 cosines ≈ 0.25-0.39) so bucketing recall
# is structurally low — bounds are set from the collision probability,
# not near 1.0 (see ann_cosine_topk_lsh docstring).

ANN_LSH_RECALL_BOUND = 0.25
ANN_IVF_RECALL_BOUND = 0.5


def _ann_check(spark: SparkSession, approx: DataFrame, exact: DataFrame, bound: float) -> DataFrame:
    a = approx.select("query_id", "neighbor_id", F.col("cosine").alias("a_cos"))
    e = exact.select("query_id", "neighbor_id", F.col("cosine").alias("e_cos"))
    joined = a.join(e, ["query_id", "neighbor_id"], "left_outer")
    flag = F.when(
        F.col("e_cos").isNotNull() & (F.col("a_cos") != F.col("e_cos")), 1
    ).otherwise(0)
    mismatches = joined.agg(
        F.coalesce(F.sum(flag), F.lit(0)).cast("bigint").alias("cosine_mismatches")
    )
    hits = e.join(a.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
    recall = (
        e.agg(F.count(F.lit(1)).alias("_n"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_h")))
        .select(
            F.when((F.col("_n") == 0) | (F.col("_h") / F.col("_n") >= bound), 1)
            .otherwise(0)
            .cast("int")
            .alias("recall_ok")
        )
    )
    return mismatches.crossJoin(recall)


ANN_CHECK_ORACLE = """
SELECT CAST(0 AS BIGINT) AS cosine_mismatches, CAST(1 AS INT) AS recall_ok
"""


def ann_lsh_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_check(
        spark,
        ann_cosine_topk_lsh(spark, sf_dir),
        ann_cosine_topk(spark, sf_dir),
        ANN_LSH_RECALL_BOUND,
    )


def ann_ivf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_check(
        spark,
        ann_cosine_topk_ivf(spark, sf_dir),
        ann_cosine_topk(spark, sf_dir),
        ANN_IVF_RECALL_BOUND,
    )


def ann_cosine_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization variant: m=8 per-subspace KMeans codebooks
    compress 64-dim float32 vectors to 8 bytes; the scan scores
    codebook reconstructions and an exact re-rank of refine·k
    candidates makes every emitted cosine true (model-dependent
    candidate set → rows-only; `ann_pq_check` carries the invariant
    oracle). On the near-uniform synthetic embeddings PQ recall@10 is
    ~0.5 — same structural ceiling as IVF (see the LSH docstring)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_pq(queries, emb, k=TOP_K)


ANN_PQ_RECALL_BOUND = 0.35


def ann_pq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ invariants: every emitted cosine equals the independently
    recomputed exact cosine (the re-rank guarantees it — a violation
    means the refine join drifted), and recall@10 vs the exact twin
    clears the bound (measured ~0.51 at sf0.001/0.01; bound leaves
    margin for KMeans partitioning nondeterminism)."""
    return _ann_check(
        spark,
        ann_cosine_topk_pq(spark, sf_dir),
        ann_cosine_topk(spark, sf_dir),
        ANN_PQ_RECALL_BOUND,
    )


QUERIES = [
    Query("ann_cosine_topk", ann_cosine_topk, ANN_TOPK_ORACLE, "ext: brute-force ANN"),
    Query("ann_cosine_topk_lsh", ann_cosine_topk_lsh, None, "ext: SRP-LSH ANN"),
    Query("ann_cosine_topk_ivf", ann_cosine_topk_ivf, None, "ext: IVF ANN"),
    Query("ann_cosine_topk_pq", ann_cosine_topk_pq, None, "ext: PQ ANN"),
    Query("ann_lsh_check", ann_lsh_check, ANN_CHECK_ORACLE, "ext: LSH ANN property oracle"),
    Query("ann_ivf_check", ann_ivf_check, ANN_CHECK_ORACLE, "ext: IVF ANN property oracle"),
    Query("ann_pq_check", ann_pq_check, ANN_CHECK_ORACLE, "ext: PQ ANN property oracle"),
]


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (extension:
    ANN serving compression). Long form (vec_id, pos, q, scale)."""
    from ..operators.similarity import quantize_embeddings

    return quantize_embeddings(load(spark, sf_dir, "embeddings"))


EMBEDDING_QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e,
         127.0 / nullif(list_max(list_transform(e, x -> abs(x))), 0.0) AS scale
  FROM v
)
SELECT vec_id,
       unnest(range(0, len(e))) AS pos,
       unnest(list_transform(e, x -> CAST(floor(x * scale + 0.5) AS BIGINT))) AS q,
       scale
FROM s
"""

QUERIES.append(
    Query(
        "embedding_quantize",
        embedding_quantize,
        EMBEDDING_QUANTIZE_ORACLE,
        "ext: int8 embedding quantization",
    )
)


def ann_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-ANN: brute-force cosine over int8 vectors. The
    quantization is engine-exact (floor-based), so unlike the LSH/IVF
    variants this approximate path has a FULL value oracle."""
    from ..operators.similarity import cosine_topk_int8

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_int8(queries, emb, k=TOP_K)


_Q8_SQL = (
    "list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x"
    " * (127.0 / nullif(list_max(list_transform(CAST(embedding AS DOUBLE[]),"
    " y -> abs(y))), 0.0)) + 0.5) AS BIGINT))"
)

ANN_INT8_ORACLE = f"""
WITH v AS (SELECT vec_id, {_Q8_SQL} AS q FROM embeddings),
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(
           CAST(list_sum(list_transform(range(1, 65), i -> qs.q[i] * c.q[i])) AS DOUBLE) /
           (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> qs.q[i] * qs.q[i])) AS DOUBLE)) *
            sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * c.q[i])) AS DOUBLE))), 6) AS cosine
  FROM (SELECT * FROM v WHERE vec_id < {N_QUERY_VECS}) qs
  CROSS JOIN v c
  WHERE qs.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""

QUERIES.append(
    Query("ann_cosine_topk_int8", ann_cosine_topk_int8, ANN_INT8_ORACLE,
          "ext: int8-quantized ANN (engine-exact oracle)")
)


# SemDeDup constants: τ matches the corpus's near-dup cosine threshold
# (queries/dedup.py COSINE_DUP_THRESHOLD); 8 cells on the near-uniform
# synthetic embeddings give measured within-cell recall ~0.41-0.47 at
# sf0.001/0.01 (k-means cells align only loosely with cosine structure
# on uniform data — the paper's corpora are far clumpier); the bound
# leaves margin for KMeans partitioning nondeterminism.
SEMDEDUP_CELLS = 8
SEMDEDUP_THRESHOLD = 0.35
SEMDEDUP_RECALL_BOUND = 0.25


def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-prune) keep/prune decision per embedding.
    KMeans cell ids are model-dependent → rows-only check;
    `semantic_dedup_check` carries the invariant oracle."""
    return semantic_dedup(
        load(spark, sf_dir, "embeddings"),
        n_cells=SEMDEDUP_CELLS,
        threshold=SEMDEDUP_THRESHOLD,
    )


def semantic_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup invariants, recomputed independently from raw vectors:

    - ``prune_violations`` = 0: the keep flag is EXACTLY the min-id
      survivor rule — an item is pruned iff a lower-id same-cell item
      with cosine ≥ τ exists (both directions counted);
    - ``recall_ok``: within-cell exact pairs ≥ bound × ALL exact pairs
      (the all-pairs sweep is the labeled exact baseline, check scale
      only — the operator itself never goes quadratic)."""
    emb = load(spark, sf_dir, "embeddings")
    sd = semantic_dedup(
        emb, n_cells=SEMDEDUP_CELLS, threshold=SEMDEDUP_THRESHOLD
    )
    from ..caching import track

    v = emb.select(
        F.col("vec_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    sdv = track(sd.join(v, "vec_id").persist())
    sdv.count()  # three consumers (a/b recheck sides + flag join)
    cos = F.round(
        F.expr(
            f"({_DOT.format(a='qv', b='cv')}) / "
            f"(({_NORM.format(v='qv')}) * ({_NORM.format(v='cv')}))"
        ),
        6,
    )
    a = sdv.select(F.col("vec_id").alias("id_a"), F.col("cell").alias("ca"), F.col("v").alias("qv"))
    b = sdv.select(F.col("vec_id").alias("id_b"), F.col("cell").alias("cb"), F.col("v").alias("cv"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= SEMDEDUP_THRESHOLD)
        .select("id_a", "id_b", "ca", "cb")
    )
    within = exact.filter(F.col("ca") == F.col("cb"))
    expected_pruned = within.select(F.col("id_b").alias("vec_id")).distinct()
    flags = sd.join(
        expected_pruned.withColumn("_exp", F.lit(1)), "vec_id", "left"
    )
    violations = flags.agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("keep") == 0) != F.col("_exp").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("prune_violations")
    )
    recall = (
        exact.agg(F.count(F.lit(1)).alias("_n"))
        .crossJoin(within.agg(F.count(F.lit(1)).alias("_w")))
        .select(
            F.when(
                (F.col("_n") == 0) | (F.col("_w") / F.col("_n") >= SEMDEDUP_RECALL_BOUND), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("recall_ok")
        )
    )
    return violations.crossJoin(recall)


SEMDEDUP_CHECK_ORACLE = """
SELECT CAST(0 AS BIGINT) AS prune_violations, CAST(1 AS INT) AS recall_ok
"""


QUERIES.append(
    Query("semantic_dedup", semantic_dedup_q, None, "ext: SemDeDup cluster-then-prune")
)
QUERIES.append(
    Query(
        "semantic_dedup_check",
        semantic_dedup_check,
        SEMDEDUP_CHECK_ORACLE,
        "ext: SemDeDup property oracle",
    )
)


# --- MMR diversified re-rank ---

MMR_K = 8
MMR_LAMBDA = 0.7
MMR_CANDIDATES = 40


def mmr_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware top-k per query vector (Carbonell & Goldstein
    1998). The greedy consumes JVM-rounded cosines, so its decisions
    are engine-deterministic — but the selection itself is iterative
    and not SQL-expressible → rows-only driver check;
    `mmr_rerank_check` carries the full-oracle equivalence row."""
    from ..operators.similarity import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return mmr_rerank(
        queries, emb, k=MMR_K, lam=MMR_LAMBDA, n_candidates=MMR_CANDIDATES
    )


def mmr_rerank_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-derives the MMR selection with an INDEPENDENTLY WRITTEN
    greedy (vectorized numpy state machine vs the operator's dict/loop
    scan — same rounded JVM similarity inputs, same IEEE double
    arithmetic, so agreement is exact, not approximate) and counts
    row-level disagreements (missing rank, different pick, different
    score). Also asserts structural invariants no greedy bug survives:
    rank 1 must be the plain cosine argmax, and per-step MMR scores
    must be non-increasing (the chosen maximum only shrinks as the
    penalty set grows — a theorem for fixed lambda). Check scale only:
    the reference greedy collects the per-query candidate frames
    (Q x C and Q x C² bounded rows), never the corpus."""
    import numpy as np

    from ..caching import track
    from ..operators.similarity import _DOT, _NORM, _as_double, mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    got = mmr_rerank(queries, emb, k=MMR_K, lam=MMR_LAMBDA, n_candidates=MMR_CANDIDATES)

    # independent candidate surfaces (same public brute-force builder)
    from ..operators.similarity import cosine_topk_bruteforce

    cands = cosine_topk_bruteforce(queries, emb, k=MMR_CANDIDATES)
    vecs = _as_double(emb, "vec_id", "embedding", "nid", "nv")
    cv = track(
        vecs.join(
            F.broadcast(cands.select("query_id", "neighbor_id", "cosine")),
            F.col("nid") == F.col("neighbor_id"),
        )
        .select("query_id", "neighbor_id", "cosine", "nv")
        .persist()
    )
    a = cv.select("query_id", F.col("neighbor_id").alias("id_a"), F.col("nv").alias("va"))
    # fresh alias on the self-join key: both sides share cv's lineage,
    # so joining on the bare name is ambiguous to the analyzer
    b = cv.select(
        F.col("query_id").alias("_qid_b"),
        F.col("neighbor_id").alias("id_b"),
        F.col("nv").alias("vb"),
    )
    pair_rows = (
        a.join(b, F.col("query_id") == F.col("_qid_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            # fresh attribute id: the cogroup below would otherwise see
            # the SAME query_id attribute on both of its sides (shared
            # cv lineage) and reject the grouping as ambiguous
            F.col("query_id").alias("qid"),
            "id_a",
            "id_b",
            F.round(
                F.expr(
                    f"({_DOT.format(a='va', b='vb')}) / "
                    f"(({_NORM.format(v='va')}) * ({_NORM.format(v='vb')}))"
                ),
                6,
            ).alias("sim"),
        )
        .collect()
    )
    qsim_rows = cv.select("query_id", "neighbor_id", "cosine").collect()

    by_q: dict = {}
    for r in qsim_rows:
        by_q.setdefault(r["query_id"], {})[r["neighbor_id"]] = r["cosine"]
    pairs_q: dict = {}
    for r in pair_rows:
        pairs_q.setdefault(r["qid"], []).append((r["id_a"], r["id_b"], r["sim"]))

    import math

    expected = []
    monotonic_violations = 0
    rank1_violations = 0
    for qid, qs in sorted(by_q.items()):
        ids = sorted(qs)
        idx = {d: i for i, d in enumerate(ids)}
        n = len(ids)
        qv = np.array([qs[d] for d in ids])
        s_mat = np.zeros((n, n))
        for ia, ib, s in pairs_q.get(qid, []):
            s_mat[idx[ia], idx[ib]] = s
            s_mat[idx[ib], idx[ia]] = s
        # pens is the TRUE running max over selected — it can be
        # negative (textbook MMR doesn't clamp the penalty at 0, and
        # neither does the operator), so it starts as the first pick's
        # similarity column, NOT zeros (zeros would silently floor
        # every penalty at 0 and diverge on anti-correlated vectors)
        pens: "np.ndarray | None" = None
        taken = np.zeros(n, dtype=bool)
        prev_score = None
        for step in range(min(MMR_K, n)):
            if pens is None:
                # bitwise-identical to the operator's `- (1-lam)*0.0`
                scores = MMR_LAMBDA * qv - (1.0 - MMR_LAMBDA) * 0.0
            else:
                scores = MMR_LAMBDA * qv - (1.0 - MMR_LAMBDA) * pens
            masked = np.where(taken, -np.inf, scores)
            best = int(np.argmax(masked))
            sc = float(scores[best])
            if step == 0 and ids[best] != min(qs, key=lambda d: (-qs[d], d)):
                rank1_violations += 1
            # monotone non-increasing holds from step 1 on (penalties
            # are maxes over growing sets); the 0->1 transition is
            # exempt — step 0 drops the penalty term entirely (the MMR
            # convention), and with NEGATIVE similarities the true max
            # at step 1 sits below that implicit 0, so scores may rise
            if step >= 2 and sc > prev_score:
                monotonic_violations += 1
            prev_score = sc
            taken[best] = True
            col = s_mat[:, best]
            pens = col.copy() if pens is None else np.maximum(pens, col)
            expected.append(
                (qid, ids[best], step + 1, math.floor(sc * 1e6 + 0.5) / 1e6)
            )
    exp_df = local_frame(
        spark, expected, "query_id long, neighbor_id long, mmr_rank long, score double"
    )
    # SYMMETRIC mismatch count: a row absent on EITHER side is a miss.
    # The old |union| - |expected| accounting was one-sided — an
    # operator regression that DROPPED rows (all emitted rows still
    # matching) made the union collapse onto expected and scored 0.
    diff = (
        got.withColumn("_g", F.lit(1))
        .join(
            exp_df.withColumn("_e", F.lit(1)),
            ["query_id", "neighbor_id", "mmr_rank", "score"],
            "full_outer",
        )
        .agg(
            F.coalesce(
                F.sum(
                    (F.col("_g").isNull() | F.col("_e").isNull()).cast("int")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("mismatches")
        )
    )
    return diff.select(
        "mismatches",
        F.lit(rank1_violations).cast("bigint").alias("rank1_violations"),
        F.lit(monotonic_violations).cast("bigint").alias("monotonic_violations"),
    )


MMR_CHECK_ORACLE = """
SELECT CAST(0 AS BIGINT) AS mismatches, CAST(0 AS BIGINT) AS rank1_violations,
       CAST(0 AS BIGINT) AS monotonic_violations
"""

QUERIES.append(
    Query("mmr_rerank", mmr_rerank_q, None, "ext: MMR diversity re-rank")
)
QUERIES.append(
    Query("mmr_rerank_check", mmr_rerank_check, MMR_CHECK_ORACLE,
          "ext: MMR greedy equivalence + invariants oracle")
)


# --- per-label embedding-centroid drift (extension) -------------------
#
# Full value oracle despite float inputs: components quantize to exact
# BIGINTs (floor(x·1e6 + 0.5), the embedding_quantize convention)
# before any sum, so both engines aggregate identical integers in any
# order; the only float math is one division per centroid cell and a
# fixed-order 64-term fold (the dedup_embedding_cosine precedent).

def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import centroid_drift

    return centroid_drift(load(spark, sf_dir, "embeddings")).orderBy("label")


EMBEDDING_DRIFT_ORACLE = """
WITH ex AS (
  SELECT label,
         unnest(range(0, len(embedding))) AS pos,
         unnest(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))) AS q
  FROM embeddings
),
per AS (
  SELECT label, pos, CAST(sum(q) AS BIGINT) AS s, count(*) AS c
  FROM ex GROUP BY label, pos
),
lab AS (
  SELECT label, list(CAST(s AS DOUBLE) / c ORDER BY pos) AS m, max(c) AS n_vecs
  FROM per GROUP BY label
),
gcent AS (
  SELECT list(CAST(s AS DOUBLE) / c ORDER BY pos) AS gm
  FROM (SELECT pos, CAST(sum(s) AS BIGINT) AS s, CAST(sum(c) AS BIGINT) AS c
        FROM per GROUP BY pos)
),
scored AS (
  SELECT label, n_vecs,
         list_sum(list_transform(range(1, 65), i -> m[i] * gm[i])) AS dot,
         list_sum(list_transform(range(1, 65), i -> m[i] * m[i])) AS nl,
         list_sum(list_transform(range(1, 65), i -> gm[i] * gm[i])) AS ng
  FROM lab, gcent
)
SELECT label, n_vecs,
       round(CASE WHEN nl > 0 AND ng > 0
             THEN dot / (sqrt(nl) * sqrt(ng)) END, 6) AS cos_to_global,
       round(CASE WHEN ng > 0 THEN sqrt(nl) / sqrt(ng) END, 6) AS norm_ratio
FROM scored
ORDER BY label
"""

QUERIES.append(
    Query(
        "embedding_drift",
        embedding_drift,
        EMBEDDING_DRIFT_ORACLE,
        "ext: per-label centroid drift vs the corpus centroid",
    )
)
