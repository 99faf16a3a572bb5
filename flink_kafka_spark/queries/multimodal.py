"""Multimodal query family: binary-payload media pipelines.

Extension scope (no reference analog — SURVEY.md §1.1 has no binary
data). Media rows are synthesized deterministically from ``documents``
(payload = UTF-8 bytes of ``text``, ASCII-only in the testdata, so the
DuckDB oracle can reproduce every byte-level result with varchar
functions: ``md5``/``substring``/``ascii`` operate on the same bytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    PHASH_MIN_BYTES,
    decode_media_meta,
    extract_features,
    frame_sample,
    perceptual_hash,
    phash_incremental,
    phash_pairs,
    synthesize_media,
)
from ..tables import load
from . import Query

_KIND_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)


def media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(load(spark, sf_dir, "documents"))
    return decode_media_meta(media)


MEDIA_DECODE_META_ORACLE = f"""
SELECT doc_id,
       {_KIND_SQL} AS kind,
       CAST(length(text) AS BIGINT) AS byte_len,
       md5(text) AS checksum,
       CASE WHEN doc_id % 3 IN (0, 2)
            THEN CAST(64 + ascii(substring(text, 1, 1)) AS BIGINT) END AS width,
       CASE WHEN doc_id % 3 IN (0, 2)
            THEN CAST(64 + ascii(substring(text, 2, 1)) AS BIGINT) END AS height,
       CASE WHEN doc_id % 3 IN (1, 2)
            THEN CAST(length(text) * 40 AS BIGINT) END AS duration_ms
FROM documents
"""


FRAME_BYTES = 64


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(load(spark, sf_dir, "documents"))
    return frame_sample(media, FRAME_BYTES)


MEDIA_FRAME_SAMPLE_ORACLE = f"""
WITH framed AS (
  SELECT doc_id, text,
         unnest(range(CAST(ceil(length(text) / {FRAME_BYTES}.0) AS BIGINT))) AS frame_idx
  FROM documents
)
SELECT doc_id,
       frame_idx,
       CAST(least({FRAME_BYTES}, length(text) - frame_idx * {FRAME_BYTES}) AS BIGINT)
         AS frame_len,
       md5(substring(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES}))
         AS frame_md5
FROM framed
"""


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided byte-mean feature vectors in LONG form
    ``(doc_id, dim_idx, val)`` — one row per vector component, so the
    driver's pandas canonicalizer can sort/hash every cell (array
    columns are not hashable there). The numpy
    mapInPandas path stays the thing under test; only the registered
    projection flattens."""
    from pyspark.sql import functions as F

    media = synthesize_media(load(spark, sf_dir, "documents"))
    feats = extract_features(media, dim=8)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim_idx", "val")
    ).select("doc_id", F.col("dim_idx").cast("int").alias("dim_idx"), "val")


# The strided byte mean is exact on both engines: integer byte sum in
# float64, one IEEE division, floor-based half-up round (see
# extract_features). DuckDB's scalar generate_series yields a LIST, so
# the per-dim positions stay a plain expression — empty stride (doc
# shorter than dim_idx+1 bytes, incl. empty docs) -> NULL avg -> 0.0,
# matching the numpy path's explicit zero fill.
MEDIA_FEATURES_ORACLE = """
SELECT d.doc_id,
       CAST(dims.dim_idx AS INT) AS dim_idx,
       COALESCE(
         floor(list_aggregate(
                 list_transform(generate_series(CAST(dims.dim_idx + 1 AS BIGINT),
                                                CAST(length(d.text) AS BIGINT), 8),
                                i -> ascii(substring(d.text, CAST(i AS INT), 1))),
                 'avg') * 10000 + 0.5) / 10000,
         0.0) AS val
FROM documents d, (SELECT unnest(range(8)) AS dim_idx) dims
"""


def media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual hash per media payload as four 16-bit chunks
    (operators/multimodal.perceptual_hash). The integer-only hash
    definition lets DuckDB replay it bit-for-bit — a FULL value oracle
    on a binary-payload media operator, not a 0-violations property
    pin. Payloads under PHASH_MIN_BYTES are excluded (both sides)."""
    media = synthesize_media(load(spark, sf_dir, "documents"))
    return perceptual_hash(
        media.filter(media["meta.byte_len"] >= PHASH_MIN_BYTES)
    )


def media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup pairs (id_a, id_b, hamming <= 3) via pigeonhole
    chunk bucketing over the perceptual hash — the LAION-style image
    dedup stage. The engine never goes all-pairs (4 chunk-bucket
    equi-joins); the DuckDB oracle MAY (oracle-scale only), which makes
    the compare also a completeness proof: any pair the bucketing
    missed would show up as an oracle-only row and fail the hash."""
    media = synthesize_media(load(spark, sf_dir, "documents"))
    return phash_pairs(
        media.filter(media["meta.byte_len"] >= PHASH_MIN_BYTES), max_hamming=3
    )


# Shared signature CTE: the pure-integer hash definition (cell sum
# cross-multiplied against the payload mean — see perceptual_hash)
# replayed in SQL. ASCII payloads make character positions = byte
# positions on both engines.
_PHASH_SIG_SQL = f"""
WITH d AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
  FROM documents WHERE text IS NOT NULL AND length(text) >= {PHASH_MIN_BYTES}
),
pos AS (
  SELECT doc_id, text, len, unnest(generate_series(CAST(1 AS BIGINT), len)) AS i
  FROM d
),
bytes AS (
  SELECT doc_id, len,
         CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT) AS b,
         (i - 1) % 64 AS j
  FROM pos
),
cells AS (
  SELECT doc_id, j, SUM(b) AS s, COUNT(*) AS n, ANY_VALUE(len) AS len
  FROM bytes GROUP BY doc_id, j
),
tot AS (SELECT doc_id, SUM(s) AS t FROM cells GROUP BY doc_id),
bits AS (
  SELECT c.doc_id, c.j, CASE WHEN c.s * c.len > tot.t * c.n THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot ON c.doc_id = tot.doc_id
),
sig AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN j BETWEEN 0  AND 15 THEN bit << CAST(j      AS INT) ELSE 0 END) AS INT) AS ph0,
    CAST(SUM(CASE WHEN j BETWEEN 16 AND 31 THEN bit << CAST(j - 16 AS INT) ELSE 0 END) AS INT) AS ph1,
    CAST(SUM(CASE WHEN j BETWEEN 32 AND 47 THEN bit << CAST(j - 32 AS INT) ELSE 0 END) AS INT) AS ph2,
    CAST(SUM(CASE WHEN j BETWEEN 48 AND 63 THEN bit << CAST(j - 48 AS INT) ELSE 0 END) AS INT) AS ph3
  FROM bits GROUP BY doc_id
)
"""

MEDIA_PHASH_ORACLE = _PHASH_SIG_SQL + "SELECT * FROM sig"

MEDIA_PHASH_DEDUP_ORACLE = _PHASH_SIG_SQL + """
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.ph0, b.ph0)) + bit_count(xor(a.ph1, b.ph1))
            + bit_count(xor(a.ph2, b.ph2)) + bit_count(xor(a.ph3, b.ph3)) AS INT)
           AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
) WHERE hamming <= 3
"""


def media_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental media dedup verdict: odd-doc_id media are 'tonight's
    batch', even-doc_id the already-ingested reference (the
    dedup_incremental parity-split convention, so synthetic near-dups
    land on both sides). The reference signature index is built inside
    (self-contained query path); production passes a stored
    perceptual_hash frame. Integer-only hash => FULL value oracle on
    the whole verdict frame, where the text twin is rows-only."""
    media = synthesize_media(load(spark, sf_dir, "documents")).filter(
        F.col("meta.byte_len") >= PHASH_MIN_BYTES
    )
    return phash_incremental(
        media.filter(F.pmod("doc_id", F.lit(2)) == 1),
        media.filter(F.pmod("doc_id", F.lit(2)) == 0),
        max_hamming=3,
    )


# best_ref_id is deterministic on both engines: lowest reference id
# among the lowest-Hamming matches (Spark: min_by over the
# (hamming, id) struct; SQL: MIN(rid) filtered to hamming = best).
MEDIA_PHASH_INCREMENTAL_ORACLE = _PHASH_SIG_SQL + """,
m AS (
  SELECT bid, rid, hamming FROM (
    SELECT b.doc_id AS bid, r.doc_id AS rid,
           CAST(bit_count(xor(b.ph0, r.ph0)) + bit_count(xor(b.ph1, r.ph1))
              + bit_count(xor(b.ph2, r.ph2)) + bit_count(xor(b.ph3, r.ph3)) AS INT)
             AS hamming
    FROM sig b JOIN sig r ON b.doc_id % 2 = 1 AND r.doc_id % 2 = 0
  ) WHERE hamming <= 3
),
per AS (
  SELECT bid, CAST(COUNT(*) AS BIGINT) AS n_ref_dups,
         CAST(MIN(hamming) AS INT) AS best_hamming
  FROM m GROUP BY bid
),
best AS (
  SELECT m.bid, MIN(m.rid) AS best_ref_id
  FROM m JOIN per ON m.bid = per.bid AND m.hamming = per.best_hamming
  GROUP BY m.bid
)
SELECT s.doc_id,
       CAST(CASE WHEN per.bid IS NULL THEN 1 ELSE 0 END AS INT) AS is_novel,
       COALESCE(per.n_ref_dups, 0) AS n_ref_dups,
       best.best_ref_id,
       per.best_hamming
FROM sig s
LEFT JOIN per ON per.bid = s.doc_id
LEFT JOIN best ON best.bid = s.doc_id
WHERE s.doc_id % 2 = 1
"""


QUERIES = [
    Query("media_decode_meta", media_decode_meta, MEDIA_DECODE_META_ORACLE,
          "extension: multimodal decode (mapInPandas)", ("multimodal",)),
    Query("media_frame_sample", media_frame_sample, MEDIA_FRAME_SAMPLE_ORACLE,
          "extension: multimodal frame sampling", ("multimodal",)),
    Query("media_features", media_features, MEDIA_FEATURES_ORACLE,
          "extension: multimodal feature extraction", ("multimodal",)),
    Query("media_phash", media_phash, MEDIA_PHASH_ORACLE,
          "extension: multimodal perceptual hash (full value oracle)",
          ("multimodal",)),
    Query("media_phash_dedup", media_phash_dedup, MEDIA_PHASH_DEDUP_ORACLE,
          "extension: media near-dup pairs (pigeonhole chunk buckets)",
          ("multimodal", "dedup")),
    Query("media_phash_incremental", media_phash_incremental,
          MEDIA_PHASH_INCREMENTAL_ORACLE,
          "extension: incremental media dedup (batch vs stored reference index)",
          ("multimodal", "dedup")),
]


def media_features_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property oracle for `media_features`: recompute the strided
    byte means with pure JVM expressions (ascii/substring/aggregate —
    an implementation with nothing in common with the numpy path) and
    count long-form rows differing by more than 1e-4 (the 4-dp
    rounding slack) plus docs that don't emit exactly 8 components. A
    broken Arrow batch shape, stride, payload encoding or posexplode
    projection shows up as a nonzero count and fails the driver hash."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    feats = media_features(spark, sf_dir)
    jvm = docs.select(
        "doc_id",
        # the CASE guards the empty stride: sequence(lo, hi, step)
        # THROWS under ANSI when lo > hi, so a doc shorter than j+1
        # bytes must short-circuit to NULL (-> the coalesced 0.0 below,
        # matching the numpy path's fill) before sequence evaluates
        F.expr(
            "transform(sequence(0, 7), j -> "
            " CASE WHEN length(text) >= j + 1 THEN"
            "  aggregate(transform(sequence(j + 1, length(text), 8),"
            "                      i -> ascii(substring(text, i, 1))),"
            "            0L, (a, x) -> a + x)"
            "  / CAST(size(sequence(j + 1, length(text), 8)) AS DOUBLE)"
            " END)"
        ).alias("jf"),
    ).select(
        "doc_id",
        F.posexplode("jf").alias("dim_idx", "jval"),
        F.lit(True).alias("jvm_present"),
    )
    joined = feats.join(jvm, ["doc_id", "dim_idx"], "full_outer")
    # jval is legitimately NULL for an empty stride (doc shorter than
    # dim_idx+1 bytes) — the numpy path fills 0.0 there, so compare
    # against the coalesced zero; only a truly absent row is a miss.
    bad_row = (
        F.col("jvm_present").isNull()
        | F.col("val").isNull()
        | (F.abs(F.col("val") - F.coalesce(F.col("jval"), F.lit(0.0))) > 0.0001)
    ).cast("bigint")
    return joined.agg(F.coalesce(F.sum(bad_row), F.lit(0)).cast("bigint").alias("violations"))


MEDIA_FEATURES_CHECK_ORACLE = "SELECT CAST(0 AS BIGINT) AS violations"

QUERIES.append(
    Query(
        "media_features_check",
        media_features_check,
        MEDIA_FEATURES_CHECK_ORACLE,
        "extension: multimodal feature property oracle",
        ("multimodal",),
    )
)
