"""Deduplication query family (engine extension) on `documents` /
`embeddings`. The synthetic corpus has no byte-identical docs (exact
dedup returns 500 singleton groups) but does contain high-Jaccard
near-dup pairs (max ≈ 0.99), so the n-gram/MinHash paths produce
non-trivial output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..operators.dedup import (
    SHINGLE_STOP_DF,
    canonicalize_clusters,
    connected_components,
    containment_pairs,
    embedding_cosine_pairs,
    exact_dedup,
    incremental_dedup,
    incremental_dedup_matches,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_prune_stats,
    shingle_sets,
    simhash,
    simhash_pairs,
    source_overlap_matrix,
    span_dup_stats,
    trim_duplicated_spans,
)
from ..tables import load
from . import Query

JACCARD_THRESHOLD = 0.5
COSINE_DUP_THRESHOLD = 0.35
# Stop-shingle cutoff surfaced at the query layer: the reported jaccard
# is a lower bound under this pruning (see ngram_jaccard_pairs), and
# dedup_prune_stats reports how much it actually drops on this corpus.
NGRAM_STOP_DF = SHINGLE_STOP_DF

# Shared DuckDB CTE: distinct word 3-gram shingles per doc.
_SHINGLES_CTE = """
toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
  FROM toks
)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load(spark, sf_dir, "documents"))


DEDUP_EXACT_ORACLE = """
SELECT md5(lower(text)) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        threshold=JACCARD_THRESHOLD,
        stop_df=NGRAM_STOP_DF,
    )


def dedup_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visibility row for the stop-shingle heuristic: what fraction of
    shingle occurrences the df > stop_df pruning removes before the
    Jaccard self-join (high fraction → the lower bound is loose)."""
    return shingle_prune_stats(
        load(spark, sf_dir, "documents"), stop_df=NGRAM_STOP_DF
    )


DEDUP_PRUNE_STATS_ORACLE = f"""
WITH {_SHINGLES_CTE},
per AS (SELECT shingle, count(*) AS df_ FROM sh GROUP BY 1)
SELECT count(*) AS n_shingles,
       CAST(sum(CASE WHEN df_ > {NGRAM_STOP_DF} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stop_shingles,
       round(sum(CASE WHEN df_ > {NGRAM_STOP_DF} THEN df_ ELSE 0 END) * 1.0
             / sum(df_), 6) AS occurrence_pruned_frac
FROM per
"""


DEDUP_NGRAM_ORACLE = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
rare AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 200)
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
) WHERE jaccard >= {JACCARD_THRESHOLD}
"""


CONTAINMENT_THRESHOLD = 0.6


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram containment pairs (quote/subset detector):
    C = |A∩B| / min(|A|,|B|) ≥ 0.6 — catches a short doc embedded in a
    long one, which symmetric Jaccard misses (union dominated by the
    long doc). Same single-shuffle bucket plan as the Jaccard twin."""
    return containment_pairs(
        load(spark, sf_dir, "documents"),
        threshold=CONTAINMENT_THRESHOLD,
        stop_df=NGRAM_STOP_DF,
    )


DEDUP_CONTAINMENT_ORACLE = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
rare AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= {NGRAM_STOP_DF})
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, size_a, size_b, n_inter, containment FROM (
  SELECT id_a, id_b, sa.n AS size_a, sb.n AS size_b, n_inter,
         floor(n_inter * 1.0 / least(sa.n, sb.n) * 1000000 + 0.5) / 1000000
           AS containment
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
) WHERE containment >= {CONTAINMENT_THRESHOLD}
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact Jaccard. Signature
    hashing is Spark's xxhash64 (not reproducible in DuckDB) → rows-only
    check; the exact-Jaccard twin `dedup_ngram_jaccard` is the
    hash-checked oracle for the same semantics."""
    return minhash_lsh_pairs(load(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 of 64 bits, pigeonhole
    16-bit-chunk bucketing). md5-derived token hashes → rows-only."""
    return simhash_pairs(load(spark, sf_dir, "documents"), max_hamming=3)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_cosine_pairs(
        load(spark, sf_dir, "embeddings"), threshold=COSINE_DUP_THRESHOLD
    )


DEDUP_EMBEDDING_ORACLE = f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(
           list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
           (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
            sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6) AS cosine
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cosine >= {COSINE_DUP_THRESHOLD}
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters*: n-gram-Jaccard pairs → connected
    components → (doc_id, cluster_id, keep). keep=1 marks the
    canonical (min-id) member; filtering keep=1 is the actual dedup.
    The iterative hash-to-min loop is oracle-checked against a DuckDB
    recursive CTE computing min-reachable-id per node."""
    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)
    cc = connected_components(pairs, docs)
    return cc.withColumn(
        "keep", (F.col("doc_id") == F.col("cluster_id")).cast("int")
    )


DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
rare AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 200)
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           n_inter * 1.0 / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
  ) WHERE round(jaccard, 6) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(comp) AS cluster_id,
       CAST(min(comp) = node AS INT) AS keep
FROM reach GROUP BY node
"""


def dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup KEEP step: near-dup clusters (n-gram Jaccard pairs →
    connected components) canonicalized by QUALITY — per cluster the
    highest-quality member (tie-break lowest doc_id) carries keep=1.
    ``WHERE keep = 1`` is the deduplicated corpus a training pipeline
    actually feeds downstream; keep-min-id (dedup_clusters) is the
    simpler policy it replaces."""
    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)
    return canonicalize_clusters(docs, pairs)


def dedup_canonicalize_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mega-cluster-safe keep-best plan (min_by partial aggregation
    + broadcast winner join instead of the rank window) — row-identical
    to dedup_canonicalize by contract, so it shares its oracle; a
    divergence between the two plans fails this row."""
    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)
    return canonicalize_clusters(docs, pairs, skew_safe=True)


DEDUP_CANONICALIZE_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
rare AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 200)
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           n_inter * 1.0 / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
  ) WHERE round(jaccard, 6) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node),
q AS (
  SELECT doc_id,
         round(0.5 * least(len(regexp_split_to_array(lower(text), '\\s+')) / 200.0, 1.0)
               + 0.5 * (len(list_distinct(regexp_split_to_array(lower(text), '\\s+')))
                        / len(regexp_split_to_array(lower(text), '\\s+'))), 4)
           AS quality_score
  FROM documents
)
SELECT doc_id, cluster_id, quality_score,
       CAST(row_number() OVER (PARTITION BY cluster_id
                               ORDER BY quality_score DESC, doc_id ASC) = 1 AS INT)
         AS keep
FROM comp JOIN q USING (doc_id)
"""


SPAN_N = 10  # span length in tokens for the duplicated-substring stats


def dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup stats: per doc, how many of its
    10-token spans occur verbatim in another doc (partial duplication —
    boilerplate blocks — that doc-level near-dup misses). Spans travel
    as md5 hashes in both engines, so the oracle is exact."""
    return span_dup_stats(load(spark, sf_dir, "documents"), n=SPAN_N)


DEDUP_SPAN_STATS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
spans AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - {SPAN_N - 1}, 0) + 1),
                               i -> md5(array_to_string(ws[i:i+{SPAN_N - 1}], ' ')))) AS span_h
  FROM toks
),
occ AS (SELECT span_h, doc_id, count(*) AS n_occ FROM spans GROUP BY 1, 2),
dup AS (
  SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_dup_spans
  FROM (SELECT *, count(*) OVER (PARTITION BY span_h) AS nd FROM occ)
  WHERE nd > 1 GROUP BY 1
)
SELECT t.doc_id,
       CAST(greatest(len(ws) - {SPAN_N - 1}, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN len(ws) > {SPAN_N - 1}
            THEN floor(coalesce(d.n_dup_spans, 0) * 1.0
                       / (len(ws) - {SPAN_N - 1}) * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS dup_frac
FROM toks t LEFT JOIN dup d USING (doc_id)
"""


def dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-editing companion to dedup_span_stats: excise every
    cross-doc duplicated 10-token region from non-owner docs (owner =
    lowest doc_id containing the span), emitting the cleaned normalized
    text plus removal counts. Both engines hash spans with md5 and
    merge covered positions into intervals, so the oracle compares the
    EDITED TEXT cell-exactly."""
    return trim_duplicated_spans(load(spark, sf_dir, "documents"), n=SPAN_N)


DEDUP_SPAN_TRIM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
sp AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - {SPAN_N - 1}, 0) + 1),
                i -> {{'pos': i,
                       'h': md5(array_to_string(ws[i:i+{SPAN_N - 1}], ' '))}})) AS s
  FROM toks
),
sp2 AS (SELECT doc_id, s.pos AS pos, s.h AS span_h FROM sp),
stats AS (
  SELECT span_h, count(DISTINCT doc_id) AS nd, min(doc_id) AS owner
  FROM sp2 GROUP BY 1
),
flagged AS (
  SELECT s.doc_id, s.pos FROM sp2 s JOIN stats USING (span_h)
  WHERE nd > 1 AND s.doc_id != owner
),
ordered AS (
  SELECT doc_id, pos,
         max(pos + {SPAN_N - 1}) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM flagged
),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
  FROM ordered
),
merged AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {SPAN_N - 1} AS e
  FROM isl GROUP BY doc_id, isl_id
),
tokpos AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws) + 1),
                i -> {{'i': i, 't': ws[i]}})) AS tp
  FROM toks
),
kept AS (
  SELECT t.doc_id, (t.tp).i AS i, (t.tp).t AS tok
  FROM tokpos t
  WHERE NOT EXISTS (SELECT 1 FROM merged m
                    WHERE m.doc_id = t.doc_id AND (t.tp).i BETWEEN m.s AND m.e)
)
SELECT t.doc_id,
       CAST(coalesce(len(t.ws), 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(r.removed, 0) AS BIGINT) AS n_removed_tokens,
       coalesce(k.txt, '') AS cleaned_text
FROM toks t
LEFT JOIN (SELECT doc_id, sum(e - s + 1) AS removed FROM merged GROUP BY 1) r
  USING (doc_id)
LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS txt FROM kept GROUP BY 1) k
  USING (doc_id)
"""


def _batch_ref(spark: SparkSession, sf_dir: str) -> "tuple[DataFrame, DataFrame]":
    """Incremental-dedup corpus split: odd doc_ids are 'tonight's
    crawl', even doc_ids the already-ingested reference — the synthetic
    near-dup pairs land on both sides of the parity split, so the
    cross-corpus path produces non-trivial matches."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
        docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0),
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level incremental dedup: every batch (odd-id) doc flagged
    novel or near-duplicate of the reference (even-id) corpus.
    LSH-candidate generation is xxhash64-dependent → rows-only here;
    dedup_incremental_check is the driver-hashed invariant row."""
    batch, ref = _batch_ref(spark, sf_dir)
    return incremental_dedup(batch, ref, threshold=JACCARD_THRESHOLD)


def dedup_incremental_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-dedup invariants as a driver-hashable row:
    (a) precision — every emitted match's Jaccard, recomputed
    independently from full shingle sets, agrees and meets the
    threshold; (b) recall — the LSH path finds >= MINHASH_RECALL_BOUND
    of the exact twin's cross-parity pairs (ngram_jaccard_pairs over
    the whole corpus, restricted to odd-even pairs); (c) the doc-level
    rollup partitions the batch exactly (is_novel XOR has-dups, every
    batch doc present exactly once)."""
    from pyspark.storagelevel import StorageLevel

    from ..caching import track

    batch, ref = _batch_ref(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    # ONE matches execution for all three invariants: the frame feeds
    # the precision re-check, the recall semi-join, AND the doc-level
    # rollup below — unpersisted, each consumer re-ran the whole
    # cross-corpus band join + verification.
    matches = track(
        incremental_dedup_matches(batch, ref, threshold=JACCARD_THRESHOLD).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    sets = shingle_sets(docs, "doc_id")
    rechecked = (
        matches.join(
            sets.select(F.col("doc_id").alias("batch_id"), F.col("shingle_arr").alias("arr_b")),
            "batch_id",
        )
        .join(
            sets.select(F.col("doc_id").alias("ref_id"), F.col("shingle_arr").alias("arr_r")),
            "ref_id",
        )
        .withColumn("n_inter", F.size(F.array_intersect("arr_b", "arr_r")))
        .withColumn(
            "true_j",
            F.round(
                F.col("n_inter") / (F.size("arr_b") + F.size("arr_r") - F.col("n_inter")), 6
            ),
        )
    )
    precision = rechecked.agg(
        F.coalesce(
            F.sum(
                _flag(
                    (F.col("true_j") < JACCARD_THRESHOLD)
                    | (F.col("true_j") != F.col("jaccard"))
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("precision_violations")
    )
    # exact cross-parity twin, oriented (odd -> batch_id, even -> ref_id)
    exact = ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD, stop_df=NGRAM_STOP_DF)
    cross = exact.filter(
        F.pmod(F.col("id_a"), F.lit(2)) != F.pmod(F.col("id_b"), F.lit(2))
    ).select(
        F.when(F.pmod(F.col("id_a"), F.lit(2)) == 1, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("batch_id"),
        F.when(F.pmod(F.col("id_a"), F.lit(2)) == 1, F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("ref_id"),
    )
    hits = cross.join(matches.select("batch_id", "ref_id"), ["batch_id", "ref_id"], "left_semi")
    recall = (
        cross.agg(F.count(F.lit(1)).alias("_n"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_h")))
        .select(
            _flag(
                (F.col("_n") == 0) | (F.col("_h") / F.col("_n") >= MINHASH_RECALL_BOUND)
            ).alias("recall_ok")
        )
    )
    rollup = incremental_dedup(
        batch, ref, threshold=JACCARD_THRESHOLD, matches=matches
    )
    partition = (
        rollup.agg(
            F.coalesce(
                F.sum(_flag(F.col("is_novel") + (F.col("n_ref_dups") > 0).cast("int") != 1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("_bad"),
            F.count(F.lit(1)).alias("_rows"),
        )
        .crossJoin(batch.agg(F.count(F.lit(1)).alias("_batch")))
        .select(
            (F.col("_bad") + _flag(F.col("_rows") != F.col("_batch")).cast("bigint")).alias(
                "partition_violations"
            )
        )
    )
    return precision.crossJoin(recall).crossJoin(partition)


DEDUP_INCREMENTAL_CHECK_ORACLE = """
SELECT CAST(0 AS BIGINT) AS precision_violations, CAST(1 AS INT) AS recall_ok,
       CAST(0 AS BIGINT) AS partition_violations
"""


# --- property oracles for the hash-dependent (no_oracle) approx paths -
#
# The approx operators' outputs depend on Spark-side hashing (xxhash64,
# md5 simhash) that DuckDB can't reproduce, so a row-hash check can only
# record them as "runs = OK". These check queries turn their INVARIANTS
# into driver-hashable rows: each emitted pair must satisfy the exact
# predicate recomputed independently (precision), and the approx path
# must find at least a fixed fraction of the exact twin's pairs
# (recall). The oracle is the constant the invariants must equal —
# if the bucketing breaks, the Spark side deviates and the hash fails.

MINHASH_RECALL_BOUND = 0.8  # 1-(1-j^4)^8 ≈ 0.88 at j=0.5, higher above


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split: near-dup clusters (n-gram
    Jaccard pairs → connected components) are bucketed by CLUSTER id,
    so every member of a near-dup cluster lands in the same split and
    a training document's near-duplicate can never contaminate the
    eval set. Singletons degenerate to the plain id-hash split
    (cluster_id = doc_id), so the assignment is a strict refinement of
    dataset_split."""
    from ..operators.dedup import connected_components
    from ..operators.sampling import grouped_split

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)
    cc = connected_components(pairs, docs)
    return grouped_split(cc, "cluster_id")


# shared recursive min-reachable-id CTE (the DuckDB twin of the Spark
# CC loop) — same text as inside DEDUP_CLUSTERS_ORACLE, factored for
# oracles that BUILD ON the cluster assignment
_CLUSTERS_CTE = f"""{{shingles}},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
rare AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 200)
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           n_inter * 1.0 / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
  ) WHERE round(jaccard, 6) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (
  SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node
)"""

from ..operators.sampling import split_bucket_sql  # noqa: E402

_CLUSTER_BUCKET = split_bucket_sql("cluster_id")

LEAKAGE_SAFE_SPLIT_ORACLE = (
    "WITH RECURSIVE "
    + _CLUSTERS_CTE.format(shingles=_SHINGLES_CTE)
    + f"""
SELECT doc_id, cluster_id,
       CASE WHEN {_CLUSTER_BUCKET} < 80 THEN 'train'
            WHEN {_CLUSTER_BUCKET} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM clusters
"""
)


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 3-gram overlap matrix over `documents` — the
    corpus-merge diagnostic (which sources are the same crawl twice)."""
    return source_overlap_matrix(load(spark, sf_dir, "documents"))


SOURCE_OVERLAP_ORACLE = """
WITH toks AS (
  SELECT source, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
gsh AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
  FROM toks
),
sizes AS (SELECT source, count(*) AS n FROM gsh GROUP BY 1),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_shingles
  FROM gsh a JOIN gsh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared_shingles,
       floor(n_shared_shingles * 1.0 / (sa.n + sb.n - n_shared_shingles)
             * 1000000 + 0.5) / 1000000 AS jaccard
FROM pairs
JOIN sizes sa ON source_a = sa.source
JOIN sizes sb ON source_b = sb.source
"""


def _flag(cond) -> F.Column:
    return F.when(cond, 1).otherwise(0).cast("int")


def dedup_minhash_lsh_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    approx = minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    exact = ngram_jaccard_pairs(
        docs, threshold=JACCARD_THRESHOLD, stop_df=NGRAM_STOP_DF
    )
    sets = shingle_sets(docs, "doc_id")
    rechecked = (
        approx.join(
            sets.select(F.col("doc_id").alias("id_a"), F.col("shingle_arr").alias("arr_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("id_b"), F.col("shingle_arr").alias("arr_b")),
            "id_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "true_j",
            F.round(
                F.col("n_inter") / (F.size("arr_a") + F.size("arr_b") - F.col("n_inter")), 6
            ),
        )
    )
    precision = rechecked.agg(
        F.coalesce(
            F.sum(
                _flag(
                    (F.col("true_j") < JACCARD_THRESHOLD)
                    | (F.col("true_j") != F.col("jaccard"))
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("precision_violations")
    )
    e_pairs = exact.select("id_a", "id_b")
    hits = e_pairs.join(approx.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    recall = (
        e_pairs.agg(F.count(F.lit(1)).alias("_n"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_h")))
        .select(
            _flag(
                (F.col("_n") == 0) | (F.col("_h") / F.col("_n") >= MINHASH_RECALL_BOUND)
            ).alias("recall_ok")
        )
    )
    return precision.crossJoin(recall)


DEDUP_MINHASH_CHECK_ORACLE = """
SELECT CAST(0 AS BIGINT) AS precision_violations, CAST(1 AS INT) AS recall_ok
"""


def dedup_simhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash invariants: (a) every emitted pair's Hamming distance,
    recomputed independently from the signature table, matches and is
    within the bound; (b) the pigeonhole bucketing misses NOTHING — an
    all-pairs sweep of the signature table (check-scale only; the
    operator itself never goes quadratic) finds no Hamming≤3 pair
    absent from the output."""
    docs = load(spark, sf_dir, "documents")
    approx = simhash_pairs(docs, max_hamming=3)
    from ..caching import track

    sh = track(simhash(docs).persist())
    sh.count()  # two consumers below
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sim_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sim_b"))
    rechecked = (
        approx.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("h2", F.bit_count(F.expr("sim_a ^ sim_b")))
    )
    violations = rechecked.agg(
        F.coalesce(
            F.sum(_flag((F.col("h2") != F.col("hamming")) | (F.col("h2") > 3))), F.lit(0)
        )
        .cast("bigint")
        .alias("hamming_violations")
    )
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.expr("sim_a ^ sim_b")))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b")
    )
    missed = brute.join(approx.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("missed_pairs")
    )
    return violations.crossJoin(missed)


DEDUP_SIMHASH_CHECK_ORACLE = """
SELECT CAST(0 AS BIGINT) AS hamming_violations, CAST(0 AS BIGINT) AS missed_pairs
"""


QUERIES = [
    Query("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE, "ext: exact dedup"),
    Query("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_ORACLE, "ext: ngram jaccard"),
    Query(
        "dedup_prune_stats",
        dedup_prune_stats,
        DEDUP_PRUNE_STATS_ORACLE,
        "ext: stop-shingle pruning visibility",
    ),
    Query(
        "dedup_containment",
        dedup_containment,
        DEDUP_CONTAINMENT_ORACLE,
        "ext: directed n-gram containment (quote/subset detector)",
    ),
    Query("dedup_minhash_lsh", dedup_minhash_lsh, None, "ext: minhash+lsh"),
    Query(
        "dedup_minhash_lsh_check",
        dedup_minhash_lsh_check,
        DEDUP_MINHASH_CHECK_ORACLE,
        "ext: minhash+lsh property oracle",
    ),
    Query("dedup_simhash", dedup_simhash, None, "ext: simhash"),
    Query(
        "dedup_simhash_check",
        dedup_simhash_check,
        DEDUP_SIMHASH_CHECK_ORACLE,
        "ext: simhash property oracle",
    ),
    Query(
        "dedup_clusters",
        dedup_clusters,
        DEDUP_CLUSTERS_ORACLE,
        "ext: near-dup cluster formation (iterative CC)",
    ),
    Query(
        "dedup_canonicalize",
        dedup_canonicalize,
        DEDUP_CANONICALIZE_ORACLE,
        "ext: keep best-quality doc per near-dup cluster",
    ),
    Query(
        "dedup_canonicalize_skew",
        dedup_canonicalize_skew,
        DEDUP_CANONICALIZE_ORACLE,
        "ext: mega-cluster-safe keep-best (min_by + winner join)",
    ),
    Query(
        "dedup_embedding_cosine",
        dedup_embedding_cosine,
        DEDUP_EMBEDDING_ORACLE,
        "ext: embedding near-dup",
    ),
    Query(
        "dedup_span_stats",
        dedup_span_stats,
        DEDUP_SPAN_STATS_ORACLE,
        "ext: span-level exact-substring dedup stats",
    ),
    Query(
        "dedup_span_trim",
        dedup_span_trim,
        DEDUP_SPAN_TRIM_ORACLE,
        "ext: excise cross-doc duplicated spans (keep owner)",
    ),
    Query(
        "source_overlap",
        source_overlap,
        SOURCE_OVERLAP_ORACLE,
        "ext: cross-source n-gram overlap matrix",
    ),
    Query(
        "leakage_safe_split",
        leakage_safe_split,
        LEAKAGE_SAFE_SPLIT_ORACLE,
        "ext: cluster-aware (leakage-safe) train/val/test split",
    ),
    Query(
        "dedup_incremental",
        dedup_incremental,
        None,
        "ext: incremental (cross-snapshot) dedup",
    ),
    Query(
        "dedup_incremental_check",
        dedup_incremental_check,
        DEDUP_INCREMENTAL_CHECK_ORACLE,
        "ext: incremental dedup property oracle",
    ),
]


# --- source PageRank: overlap-centrality ranking of crawl sources ---
#
# The corpus-merge companion to source_overlap: rank sources by
# weighted PageRank over the shared-shingle graph (edge weight =
# n_shared_shingles, both directions), so "which of these overlapping
# crawls is central / redundant" has a principled score. The
# fixed-point INTEGER iteration (operators/graph.py) makes an
# iterative algorithm fully value-oracled: DuckDB replays the exact
# rounds as unrolled CTEs with `//` where Spark uses `div`.

PR_ITERATIONS = 12
PR_DAMPING_PCT = 85
PR_UNIT = 1_000_000_000


def source_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    docs = load(spark, sf_dir, "documents")
    # the operator materializes its own |sources|²-bounded cache, so
    # both edge directions (the fwd/rev union) read pure cache
    ov = source_overlap_matrix(docs)
    w = F.col("n_shared_shingles").alias("w")
    edges = ov.select(
        F.col("source_a").alias("src"), F.col("source_b").alias("dst"), w
    ).unionByName(
        ov.select(F.col("source_b").alias("src"), F.col("source_a").alias("dst"), w)
    )
    return pagerank(
        edges, docs.select("source").distinct(), "source",
        PR_ITERATIONS, PR_DAMPING_PCT, PR_UNIT,
    ).select(F.col("node").alias("source"), "rank_e9")


def _pagerank_oracle(iterations: int, damping: int, unit: int) -> str:
    """Unrolled-CTE DuckDB replay of the integer PageRank rounds (a
    recursive CTE with aggregation in the recursive term is not
    portable; twelve chained CTEs are)."""
    head = f"""
WITH toks AS (
  SELECT source, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
gsh AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
  FROM toks
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS w
  FROM gsh a JOIN gsh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
),
edges AS (
  SELECT source_a AS src, source_b AS dst, w FROM pairs
  UNION ALL
  SELECT source_b AS src, source_a AS dst, w FROM pairs
),
ew AS (
  SELECT e.src, e.dst, e.w, s.wsum
  FROM edges e JOIN (SELECT src, sum(w) AS wsum FROM edges GROUP BY 1) s
  USING (src)
),
nodes AS (SELECT DISTINCT source AS node FROM documents),
meta AS (
  SELECT CAST({unit} // count(*) AS BIGINT) AS base,
         CAST((({100 - damping}) * ({unit} // count(*))) // 100 AS BIGINT) AS tp
  FROM nodes
),
r0 AS (SELECT node, (SELECT base FROM meta) AS r FROM nodes)"""
    rounds = "".join(
        f""",
r{i} AS (
  SELECT n.node,
         CAST((SELECT tp FROM meta)
              + (({damping} * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node, sum((p.r * e.w) // e.wsum) AS s
    FROM ew e JOIN r{i - 1} p ON p.node = e.src
    GROUP BY 1
  ) c USING (node)
)"""
        for i in range(1, iterations + 1)
    )
    return (
        head + rounds
        + f"\nSELECT node AS source, r AS rank_e9 FROM r{iterations}"
    )


QUERIES.append(
    Query(
        "source_pagerank",
        source_pagerank,
        _pagerank_oracle(PR_ITERATIONS, PR_DAMPING_PCT, PR_UNIT),
        "ext: weighted PageRank over the source-overlap graph (integer fixed-point)",
    )
)
