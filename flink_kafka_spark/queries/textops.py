"""Text-analysis query family (engine extension) on `documents`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.text import (
    LANG_MARKERS,
    PII_DIGIT_RUN,
    PII_EMAIL,
    PII_URL,
    TOKEN_REGEX,
    bpe_count_expr,
    contamination_overlap,
    fingerprint,
    language_id,
    pii_scan,
    pred_lang_expr,
    quality_expr,
    quality_score,
    quality_threshold_sweep,
    redact_pii,
    token_count_bpe,
    token_stats,
)
from ..tables import load
from . import Query


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load(spark, sf_dir, "documents"))


TEXT_STATS_ORACLE = """
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(lower(text), '\\s+') AS ws,
         length(text) AS n_chars_calc
  FROM documents
)
SELECT doc_id,
       len(ws) AS n_tokens,
       n_chars_calc,
       round((n_chars_calc - (len(ws) - 1)) / len(ws), 4) AS avg_token_len,
       round(len(list_distinct(ws)) / len(ws), 4) AS distinct_ratio
FROM t
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load(spark, sf_dir, "documents"))


TEXT_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws, length(text) AS nc
  FROM documents
)
SELECT doc_id,
       round(0.5 * least(len(ws) / 200.0, 1.0)
             + 0.5 * (len(list_distinct(ws)) / len(ws)), 4) AS quality_score
FROM t
"""


def filter_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter pass-rate curve: docs/tokens surviving
    ``quality_score >= t`` for t in {0.0, 0.1, …, 1.0} — the cutoff-
    selection diagnostic (token-budget cost per candidate threshold).
    One histogram shuffle + an 11-row window; no row amplification."""
    return quality_threshold_sweep(load(spark, sf_dir, "documents"), steps=10)


FILTER_SWEEP_ORACLE = """
WITH t AS (
  SELECT round(0.5 * least(len(ws) / 200.0, 1.0)
               + 0.5 * (len(list_distinct(ws)) / len(ws)), 4) AS q,
         len(ws) AS n_tokens
  FROM (SELECT regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents)
),
grid AS (SELECT i / 10.0 AS threshold FROM range(0, 11) r(i)),
tot AS (SELECT count(*) AS td, sum(n_tokens) AS tt FROM t)
SELECT g.threshold,
       CAST(sum(CASE WHEN t.q >= g.threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_pass,
       floor(sum(CASE WHEN t.q >= g.threshold THEN 1 ELSE 0 END) * 1.0
             / any_value(tot.td) * 1000000 + 0.5) / 1000000 AS frac_docs,
       CAST(sum(CASE WHEN t.q >= g.threshold THEN t.n_tokens ELSE 0 END) AS BIGINT)
         AS n_tokens_pass,
       floor(sum(CASE WHEN t.q >= g.threshold THEN t.n_tokens ELSE 0 END) * 1.0
             / any_value(tot.tt) * 1000000 + 0.5) / 1000000 AS frac_tokens
FROM grid g CROSS JOIN t CROSS JOIN tot
GROUP BY g.threshold
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load(spark, sf_dir, "documents"))


def _markers_sql(lang: str) -> str:
    return ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])


LANG_ID_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
scored AS (
  SELECT doc_id,
         len(list_filter(ws, t -> t IN ({_markers_sql("de")}))) AS score_de,
         len(list_filter(ws, t -> t IN ({_markers_sql("en")}))) AS score_en,
         len(list_filter(ws, t -> t IN ({_markers_sql("es")}))) AS score_es,
         len(list_filter(ws, t -> t IN ({_markers_sql("fr")}))) AS score_fr
  FROM t
)
SELECT doc_id,
       CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
            WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
            WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
            WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM scored
"""


def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count_bpe(load(spark, sf_dir, "documents"))


BPE_COUNT_ORACLE = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS n_bpe_tokens
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load(spark, sf_dir, "documents"))


FINGERPRINT_ORACLE = """
SELECT doc_id,
       substring(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16)
         AS fingerprint
FROM documents
"""


# synthetic docs score 0.33-0.54 (median ~0.38): 0.40 keeps the upper
# ~40% — a real filter that still leaves a corpus
CORPUS_QUALITY_MIN = 0.40


def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data prep pipeline as ONE composition: exact
    content dedup (keep min doc_id per normalized hash) → quality +
    language + token-budget features computed in a single projection →
    filter to identified-language, mid+-quality docs.

    Scale shape: one scan, one shuffle (the dedup groupBy); every
    feature is a JVM expression over the same pass — no joins between
    feature stages, no Python."""
    docs = load(spark, sf_dir, "documents")
    keep = (
        docs.groupBy(F.md5(F.lower("text")).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        docs.join(keep, "doc_id", "left_semi")
        .select(
            "doc_id",
            pred_lang_expr().alias("pred_lang"),
            quality_expr().alias("quality_score"),
            bpe_count_expr().alias("n_bpe_tokens"),
        )
        .filter((F.col("quality_score") >= CORPUS_QUALITY_MIN) & (F.col("pred_lang") != "und"))
    )


CORPUS_PREP_ORACLE = f"""
WITH keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text))
),
feats AS (
  SELECT d.doc_id,
         (SELECT CASE WHEN greatest(
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("de")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("en")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("es")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("fr")})))) = 0 THEN 'und'
           WHEN len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("de")}))) = greatest(
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("de")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("en")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("es")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("fr")})))) THEN 'de'
           WHEN len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("en")}))) = greatest(
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("de")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("en")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("es")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("fr")})))) THEN 'en'
           WHEN len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("es")}))) = greatest(
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("de")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("en")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("es")}))),
             len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t IN ({_markers_sql("fr")})))) THEN 'es'
           ELSE 'fr' END) AS pred_lang,
         round(0.5 * least(len(regexp_split_to_array(lower(d.text), '\\s+')) / 200.0, 1.0)
               + 0.5 * (len(list_distinct(regexp_split_to_array(lower(d.text), '\\s+')))
                        / len(regexp_split_to_array(lower(d.text), '\\s+'))), 4) AS quality_score,
         len(regexp_extract_all(lower(d.text), '{TOKEN_REGEX}')) AS n_bpe_tokens
  FROM documents d JOIN keep USING (doc_id)
)
SELECT doc_id, pred_lang, quality_score, n_bpe_tokens
FROM feats
WHERE quality_score >= {CORPUS_QUALITY_MIN} AND pred_lang <> 'und'
"""


def pii_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scan(load(spark, sf_dir, "documents"))


PII_SCAN_ORACLE = f"""
WITH n AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{PII_EMAIL}')) AS n_emails,
         len(regexp_extract_all(lower(text), '{PII_URL}')) AS n_urls,
         len(regexp_extract_all(lower(text), '{PII_DIGIT_RUN}')) AS n_digit_runs
  FROM documents
)
SELECT doc_id, n_emails, n_urls, n_digit_runs,
       CAST((n_emails + n_urls + n_digit_runs) > 0 AS INT) AS has_pii
FROM n
"""


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return redact_pii(load(spark, sf_dir, "documents"))


PII_REDACT_ORACLE = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{PII_EMAIL}', '<EMAIL>', 'gi'),
         '{PII_URL}', '<URL>', 'gi'),
         '{PII_DIGIT_RUN}', '<NUM>', 'gi') AS redacted_text
FROM documents
"""


# Benchmark set = every 97th doc (deterministic stand-in for a held-out
# eval set); corpus = the rest. 5-grams keep incidental overlap low.
DECON_MOD = 97
DECON_N = 5


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥1 distinct
    word 5-gram with the benchmark subset, with overlap counts —
    the pre-training contamination signal. Benchmark shingles
    broadcast; corpus shuffles (id, 1) pairs once."""
    docs = load(spark, sf_dir, "documents")
    is_bench = F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0
    return contamination_overlap(
        docs.filter(~is_bench), docs.filter(is_bench), n=DECON_N
    )


DECONTAMINATE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - {DECON_N - 1}, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                    || ' ' || ws[i+3] || ' ' || ws[i+4])) AS shingle
  FROM toks
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_MOD} = 0)
SELECT doc_id, count(*) AS n_overlap
FROM sh JOIN bench USING (shingle)
WHERE doc_id % {DECON_MOD} <> 0
GROUP BY 1
"""


QUERIES = [
    Query("text_stats", text_stats, TEXT_STATS_ORACLE, "ext: quality features"),
    Query("pii_scan", pii_scan_q, PII_SCAN_ORACLE, "ext: PII surface scan"),
    Query("pii_redact", pii_redact, PII_REDACT_ORACLE, "ext: PII redaction"),
    Query("decontaminate", decontaminate, DECONTAMINATE_ORACLE, "ext: benchmark decontamination"),
    Query("corpus_prep", corpus_prep, CORPUS_PREP_ORACLE, "ext: composed prep pipeline"),
    Query("text_quality", text_quality, TEXT_QUALITY_ORACLE, "ext: quality score"),
    Query(
        "filter_threshold_sweep",
        filter_threshold_sweep,
        FILTER_SWEEP_ORACLE,
        "ext: quality-cutoff pass-rate curve",
    ),
    Query("lang_id", lang_id, LANG_ID_ORACLE, "ext: language id"),
    Query("bpe_token_count", bpe_token_count, BPE_COUNT_ORACLE, "ext: token budget"),
    Query("doc_fingerprint", doc_fingerprint, FINGERPRINT_ORACLE, "ext: fingerprint"),
]


def source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-quality scorecard — the one-pass profile a data
    lead runs before deciding mixture weights: doc/token volume, mean
    quality, PII surface fraction, and agreement between the declared
    `lang` column and the stopword-marker language ID (low agreement =
    mislabeled or code-mixed source). Every signal is a JVM expression
    over the same scan, aggregated map-side into ONE shuffle of
    |sources| rows — no joins, no second pass."""
    docs = load(spark, sf_dir, "documents")

    def n(pat: str) -> F.Column:
        return F.size(F.expr(f"regexp_extract_all(lower(text), '{pat}', 0)"))

    has_pii = ((n(PII_EMAIL) + n(PII_URL) + n(PII_DIGIT_RUN)) > 0).cast("int")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(bpe_count_expr()).cast("long").alias("n_bpe_tokens"),
        F.round(F.avg(quality_expr()), 6).alias("avg_quality"),
        F.round(F.avg(has_pii), 6).alias("pii_frac"),
        F.round(F.avg((pred_lang_expr() == F.col("lang")).cast("int")), 6).alias(
            "lang_match_frac"
        ),
    )


SOURCE_SCORECARD_ORACLE = f"""
WITH t AS (
  SELECT source, lang, lower(text) AS lt,
         regexp_split_to_array(lower(text), '\\s+') AS ws
  FROM documents
),
scored AS (
  SELECT *,
         len(list_filter(ws, x -> x IN ({_markers_sql("de")}))) AS score_de,
         len(list_filter(ws, x -> x IN ({_markers_sql("en")}))) AS score_en,
         len(list_filter(ws, x -> x IN ({_markers_sql("es")}))) AS score_es,
         len(list_filter(ws, x -> x IN ({_markers_sql("fr")}))) AS score_fr
  FROM t
),
feats AS (
  SELECT source,
         len(regexp_extract_all(lt, '{TOKEN_REGEX}')) AS n_bpe,
         round(0.5 * least(len(ws) / 200.0, 1.0)
               + 0.5 * (len(list_distinct(ws)) / len(ws)), 4) AS q,
         CASE WHEN len(regexp_extract_all(lt, '{PII_EMAIL}'))
                   + len(regexp_extract_all(lt, '{PII_URL}'))
                   + len(regexp_extract_all(lt, '{PII_DIGIT_RUN}')) > 0
              THEN 1 ELSE 0 END AS has_pii,
         CASE WHEN (CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                         WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
                         WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
                         WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
                         ELSE 'fr' END) = lang
              THEN 1 ELSE 0 END AS lang_match
  FROM scored
)
SELECT source, count(*) AS n_docs, CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       round(avg(q), 6) AS avg_quality, round(avg(has_pii), 6) AS pii_frac,
       round(avg(lang_match), 6) AS lang_match_frac
FROM feats GROUP BY source
"""

QUERIES.append(
    Query(
        "source_scorecard",
        source_scorecard,
        SOURCE_SCORECARD_ORACLE,
        "ext: per-source quality scorecard",
    )
)


def source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    corpus-wide distribution — the atypicality signal behind mixture
    re-weighting (a source far from the mixture either adds diversity
    or is garbage; either way it needs eyes before training). Zero
    issues by construction: every source token is in the corpus.

    Scale shape: one (source, token) count shuffle off the scan; the
    corpus distribution derives from those counts (token rollup), is
    vocab-sized (Zipf-bounded) and broadcasts onto them; source totals
    are a |sources|-row aggregate broadcast the same way; final rollup
    is a |sources|-row groupBy. Token text crosses one shuffle, once."""
    from ..caching import track

    docs = load(spark, sf_dir, "documents")
    # three branches (corpus dist, totals, the join) all derive from
    # the (source, token) counts: persist the vocab×sources-sized frame
    # once instead of re-scanning the corpus per branch (released at
    # the next query boundary under the caching contract)
    st = track(
        docs.select(
            "source", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n_st"))
        .persist()
    )
    corpus = st.groupBy("token").agg(F.sum("n_st").alias("n_t"))
    corpus_total = corpus.agg(F.sum("n_t").alias("_ct"))
    src_total = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    return (
        st.join(F.broadcast(corpus), "token")
        .join(F.broadcast(src_total), "source")
        .crossJoin(F.broadcast(corpus_total))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    (F.col("n_st") / F.col("n_s"))
                    * F.log((F.col("n_st") / F.col("n_s")) / (F.col("n_t") / F.col("_ct")))
                ),
                4,
            ).alias("kl_from_corpus"),
        )
    )


SOURCE_DIVERGENCE_ORACLE = """
WITH st AS (
  SELECT source, token, count(*) AS n_st
  FROM (SELECT source, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents)
  GROUP BY 1, 2
),
corpus AS (SELECT token, sum(n_st) AS n_t FROM st GROUP BY 1),
totals AS (SELECT sum(n_t) AS ct FROM corpus),
src AS (SELECT source, sum(n_st) AS n_s FROM st GROUP BY 1)
SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
       round(sum((n_st * 1.0 / n_s)
                 * ln((n_st * 1.0 / n_s) / (n_t * 1.0 / ct))), 4) AS kl_from_corpus
FROM st JOIN corpus USING (token) JOIN src USING (source) CROSS JOIN totals
GROUP BY source
"""

QUERIES.append(
    Query(
        "source_divergence",
        source_divergence,
        SOURCE_DIVERGENCE_ORACLE,
        "ext: per-source KL from corpus distribution",
    )
)


def doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average negative log-prob under the corpus's own
    unigram LM — the perplexity-proxy quality filter (both tails are
    filter candidates: high = garbled vocabulary, low = boilerplate)."""
    from ..operators.text import unigram_logprob

    return unigram_logprob(load(spark, sf_dir, "documents"))


DOC_LOGPROB_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
  FROM documents
),
lm AS (
  SELECT token, ln(count(*) * 1.0 / (SELECT count(*) FROM toks)) AS logp
  FROM toks GROUP BY 1
)
SELECT doc_id, count(*) AS n_tokens, round(-avg(logp), 4) AS avg_neg_logprob
FROM toks JOIN lm USING (token)
GROUP BY doc_id
"""

QUERIES.append(
    Query("doc_logprob", doc_logprob, DOC_LOGPROB_ORACLE, "ext: unigram-LM perplexity proxy")
)


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment over documents
    (extension: sampling/splitting surface). Pure projection — no
    shuffle, stable across runs and partitionings."""
    from ..operators.sampling import train_val_test_split

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return train_val_test_split(docs, "doc_id")


from ..operators.sampling import split_bucket_sql  # noqa: E402

_BUCKET = split_bucket_sql("doc_id")

DATASET_SPLIT_ORACLE = f"""
SELECT doc_id,
       CASE WHEN {_BUCKET} < 80 THEN 'train'
            WHEN {_BUCKET} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

QUERIES.append(
    Query("dataset_split", dataset_split, DATASET_SPLIT_ORACLE, "ext: train/val/test split")
)


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of documents into 1024-token context
    windows within 8 deterministic hash shards (extension: training-
    data assembly). Token counts are the BPE-ish regex estimator, so
    the whole plan is one projection + one shard shuffle + sort."""
    from ..operators.sampling import pack_sequences
    from ..operators.text import bpe_count_expr

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", bpe_count_expr().alias("n_tokens")
    )
    return pack_sequences(docs, budget=1024, n_shards=8)


_SHARD = split_bucket_sql("doc_id", 8)

SEQUENCE_PACKING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS n_tokens,
         {_SHARD} AS shard
  FROM documents
),
cum AS (
  SELECT doc_id, shard, n_tokens,
         -- BIGINT cast: DuckDB integer sum() OVER is HUGEINT (float64
         -- in pandas) while Spark is BIGINT — same driver-hash class
         -- as sessionize's session_id
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_offset
  FROM toks
)
SELECT doc_id, shard, n_tokens, start_offset,
       CAST(floor(start_offset / 1024) AS BIGINT) AS bin_id
FROM cum
"""

QUERIES.append(
    Query(
        "sequence_packing",
        sequence_packing,
        SEQUENCE_PACKING_ORACLE,
        "ext: context-window sequence packing",
    )
)


_MIX_WEIGHTS = {f"src{i}": (3 if i % 2 == 0 else 1) for i in range(20)}
_MIX_BP = 500  # keep ~half the corpus tokens


def mixture_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget domain-mixture resampling (extension: training-data
    assembly): reweight even-numbered sources 3:1 over odd ones inside
    a 50%-of-corpus token budget, deterministic keep decisions."""
    from ..operators.sampling import mixture_resample
    from ..operators.text import bpe_count_expr

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", bpe_count_expr().alias("n_tokens")
    )
    return mixture_resample(docs, _MIX_WEIGHTS, budget_permille=_MIX_BP)


_MIX_CASE = (
    "CASE "
    + " ".join(f"WHEN source = '{s}' THEN {w}" for s, w in sorted(_MIX_WEIGHTS.items()))
    + " ELSE 1 END"
)
_MIX_WSUM = sum(_MIX_WEIGHTS.values())
_MIX_BUCKET = split_bucket_sql("doc_id", 1_000_000)

MIXTURE_RESAMPLE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS n_tokens
  FROM documents
),
totals AS (SELECT source, sum(n_tokens) AS src_tokens FROM toks GROUP BY 1),
grand AS (SELECT sum(src_tokens) AS grand_tokens FROM totals),
th AS (
  SELECT source,
         least(1000000, CAST(floor(
           CAST(CAST(floor(CAST(grand_tokens AS DECIMAL(38,0)) * {_MIX_BP} * ({_MIX_CASE})
                           / ({_MIX_WSUM} * 1000)) AS BIGINT) AS DECIMAL(38,0)) * 1000000
           / src_tokens) AS BIGINT)) AS keep_thresh
  FROM totals, grand
)
SELECT t.doc_id, t.source, t.n_tokens,
       CAST(({_MIX_BUCKET} < keep_thresh) AS INT) AS keep
FROM toks t JOIN th ON t.source IS NOT DISTINCT FROM th.source
"""

QUERIES.append(
    Query(
        "mixture_resample",
        mixture_resample_q,
        MIXTURE_RESAMPLE_ORACLE,
        "ext: token-budget domain-mixture resampling",
    )
)


CHUNK_SIZE, CHUNK_STRIDE = 64, 48


def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token context windows every 48 tokens (extension:
    document chunking before embedding/packing)."""
    from ..operators.text import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), chunk=CHUNK_SIZE, stride=CHUNK_STRIDE
    )


DOC_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_REGEX}') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start FROM t
)
SELECT doc_id,
       start // {CHUNK_STRIDE} AS chunk_id,
       len(toks[start + 1 : start + {CHUNK_SIZE}]) AS n_chunk_tokens,
       array_to_string(toks[start + 1 : start + {CHUNK_SIZE}], ' ') AS chunk_text
FROM s
"""

QUERIES.append(Query("doc_chunk", doc_chunk, DOC_CHUNK_ORACLE, "ext: context-window chunking"))


def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (extension: boilerplate
    / degenerate-text filters)."""
    from ..operators.text import repetition_stats

    return repetition_stats(load(spark, sf_dir, "documents"))


REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
b AS (
  SELECT doc_id, ws,
         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg
  FROM t
)
SELECT doc_id,
       len(ws) AS n_tokens,
       floor(list_max(list_transform(list_distinct(ws), d -> len(list_filter(ws, t -> t = d))))
             / nullif(len(ws), 0) * 10000 + 0.5) / 10000 AS top_unigram_frac,
       floor(list_max(list_transform(list_distinct(bg), d -> len(list_filter(bg, t -> t = d))))
             / nullif(len(bg), 0) * 10000 + 0.5) / 10000 AS top_bigram_frac,
       floor((1 - len(list_distinct(ws)) / len(ws)) * 10000 + 0.5) / 10000 AS dup_token_frac
FROM b
"""

QUERIES.append(
    Query(
        "repetition_stats", repetition_stats_q, REPETITION_ORACLE, "ext: repetition quality filters"
    )
)


STRATA_CAP_K = 3


def stratified_cap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every (lang, source) stratum at 3 docs by deterministic hash
    order (extension: corpus balancing before mixing)."""
    from ..operators.sampling import stratified_cap

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_cap(docs, ["lang", "source"], "doc_id", k=STRATA_CAP_K)


_CAP_ORD = split_bucket_sql("doc_id", 1_000_000)

STRATIFIED_CAP_ORACLE = f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY {_CAP_ORD} ASC, doc_id ASC) AS rk
  FROM documents
) WHERE rk <= {STRATA_CAP_K}
"""

QUERIES.append(
    Query("stratified_cap", stratified_cap_q, STRATIFIED_CAP_ORACLE, "ext: stratum balancing cap")
)


INDEX_MIN_DF = 2


def inverted_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list inverted index with document frequency (extension:
    retrieval-side artifact for search/RAG)."""
    from ..operators.text import inverted_index

    return inverted_index(load(spark, sf_dir, "documents"), min_df=INDEX_MIN_DF)


INVERTED_INDEX_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
postings AS (
  SELECT DISTINCT doc_id, unnest(ws) AS term FROM t
)
SELECT term, dfreq, doc_id FROM (
  SELECT term, doc_id, count(*) OVER (PARTITION BY term) AS dfreq FROM postings
) WHERE dfreq >= {INDEX_MIN_DF}
"""

QUERIES.append(
    Query("inverted_index", inverted_index_q, INVERTED_INDEX_ORACLE, "ext: inverted index")
)


TFIDF_K = 3


def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by rational-idf tf·idf
    (extension: keyword extraction / doc characterization)."""
    from ..operators.text import tfidf_top_terms

    return tfidf_top_terms(load(spark, sf_dir, "documents"), k=TFIDF_K)


TFIDF_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
ex AS (
  SELECT doc_id, len(ws) AS n_tokens, unnest(ws) AS term FROM t
),
tc AS (
  SELECT doc_id, n_tokens, term, count(*) AS cnt FROM ex GROUP BY 1, 2, 3
),
dfc AS (SELECT term, count(*) AS dfreq FROM tc GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tc.doc_id, tc.term,
         (tc.cnt * n.n_docs) / (tc.n_tokens * dfc.dfreq) AS raw_score
  FROM tc JOIN dfc USING (term) CROSS JOIN n
)
SELECT doc_id, term, floor(raw_score * 10000 + 0.5) / 10000 AS score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY raw_score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= {TFIDF_K}
"""

QUERIES.append(
    Query("tfidf_top_terms", tfidf_top_terms_q, TFIDF_ORACLE, "ext: tf-idf keyword extraction")
)


BM25_QUERY_TERMS = ["spark", "vector", "merge"]
BM25_TOPK = 10


def bm25_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search execution path (extension: retrieval over
    the corpus — literal-term tf, one broadcast stats row, TakeOrdered
    top-k)."""
    from ..operators.text import bm25_search

    return bm25_search(load(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=BM25_TOPK)


def _bm25_tf(i: int, term: str) -> str:
    return (
        f"len(list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        f" t -> t = '{term}')) AS tf_{i}"
    )


_BM25_CONTRIBS = " + ".join(
    f"((n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
    f" * (tf_{i} * 2.2)"
    f" / (tf_{i} + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))"
    for i in range(len(BM25_QUERY_TERMS))
)

# ONE DuckDB encoding of the full BM25 ranked chain, shared by the
# search oracle and the hybrid-RRF sparse side below (the shared-CTE
# discipline of _WINNOW_HS_CTES / _ANN_SCORED_CTES)
_BM25_RANKED_CTES = f"""base AS (
  SELECT doc_id,
         len(regexp_split_to_array(lower(text), '\\s+')) AS dl,
         {", ".join(_bm25_tf(i, t) for i, t in enumerate(BM25_QUERY_TERMS))}
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         {", ".join(f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(BM25_QUERY_TERMS)))}
  FROM base
),
scored AS (
  SELECT doc_id, {_BM25_CONTRIBS} AS raw FROM base, stats
),
bm25_ranked AS (
  SELECT doc_id, raw, ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id ASC) AS rank
  FROM scored
)"""

BM25_SEARCH_ORACLE = f"""
WITH {_BM25_RANKED_CTES}
SELECT doc_id, floor(raw * 10000 + 0.5) / 10000 AS score, rank
FROM bm25_ranked WHERE rank <= {BM25_TOPK}
"""

QUERIES.append(Query("bm25_search", bm25_search_q, BM25_SEARCH_ORACLE, "ext: BM25 search"))


# --- hybrid sparse+dense retrieval: reciprocal-rank fusion (r18) ------

RRF_DEPTH = 50      # candidate depth taken from each ranker
RRF_C = 60          # the SIGIR'09 paper's constant
RRF_TOPK = 10
RRF_DENSE_QUERY = 0  # the dense query vector (vec_id == doc_id linkage)


def hybrid_rrf_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (r18): the BM25 keyword ranking and the exact
    dense-cosine ranking for query vector 0 (the corpus linkage
    vec_id == doc_id the doc_semantic rows already use) fused by
    reciprocal-rank fusion at depth 50 — the standard RAG/search
    combiner, here with integer-exact e12 fixed-point arithmetic so
    the fused scores hash identically on every engine (operator
    docstring: flink_kafka_spark/operators/text.py:rrf_fuse)."""
    from ..operators.text import bm25_search, rrf_fuse
    from ..operators.similarity import cosine_topk_bruteforce

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    sparse = bm25_search(docs, BM25_QUERY_TERMS, k=RRF_DEPTH).select("doc_id", "rank")
    dense = cosine_topk_bruteforce(
        emb.filter(F.col("vec_id") == RRF_DENSE_QUERY), emb, k=RRF_DEPTH
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([sparse, dense], k=RRF_TOPK, c=RRF_C)


from .similarity import _ANN_SCORED_CTES  # noqa: E402  (shared cosine chain)

HYBRID_RRF_ORACLE = f"""
WITH {_BM25_RANKED_CTES},
{_ANN_SCORED_CTES.format(qfilter=f"vec_id = {RRF_DENSE_QUERY}")},
lists AS (
  SELECT doc_id, 1000000000000 // ({RRF_C} + rank) AS e12
  FROM bm25_ranked WHERE rank <= {RRF_DEPTH}
  UNION ALL
  SELECT neighbor_id AS doc_id, 1000000000000 // ({RRF_C} + rank) AS e12
  FROM ann_ranked WHERE rank <= {RRF_DEPTH}
),
fused AS (
  SELECT doc_id, CAST(sum(e12) AS BIGINT) AS sum_e12,
         CAST(count(*) AS INT) AS n_lists
  FROM lists GROUP BY doc_id
)
SELECT doc_id,
       CAST((sum_e12 + 500000) // 1000000 AS DOUBLE) / 1000000.0 AS rrf_score,
       n_lists,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY sum_e12 DESC, doc_id ASC) AS rank
  FROM fused
) WHERE rank <= {RRF_TOPK}
"""

QUERIES.append(
    Query(
        "hybrid_rrf_search",
        hybrid_rrf_search_q,
        HYBRID_RRF_ORACLE,
        "ext: hybrid sparse+dense retrieval via reciprocal-rank fusion",
    )
)


EXPORT_SHARD_SIZE = 100


def export_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export sharding: contiguous global row numbers in
    doc_id order, grouped into 100-row shards (extension: dataset
    release; two-pass range-partition pattern — never a
    single-partition window)."""
    from ..operators.sampling import export_shards

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return export_shards(docs, "doc_id", EXPORT_SHARD_SIZE)


EXPORT_SHARDS_ORACLE = f"""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_id ASC) - 1 AS BIGINT) AS global_rn,
       CAST(floor((ROW_NUMBER() OVER (ORDER BY doc_id ASC) - 1) / {EXPORT_SHARD_SIZE})
            AS BIGINT) AS shard_id
FROM documents
"""

QUERIES.append(
    Query("export_shards", export_shards_q, EXPORT_SHARDS_ORACLE, "ext: ordered export sharding")
)


SHUFFLE_SEED = 42


def corpus_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle (extension: reproducible
    training-order permutation; rank of md5(seed|id) via the two-pass
    range-partition pattern — never a single-partition window)."""
    from ..operators.sampling import shuffle_corpus

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return shuffle_corpus(docs, "doc_id", seed=SHUFFLE_SEED, shard_size=EXPORT_SHARD_SIZE)


CORPUS_SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, md5('{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1 AS BIGINT) AS position,
       CAST(floor((ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1) / {EXPORT_SHARD_SIZE})
            AS BIGINT) AS shard_id
FROM keyed
"""

QUERIES.append(
    Query(
        "corpus_shuffle",
        corpus_shuffle_q,
        CORPUS_SHUFFLE_ORACLE,
        "ext: deterministic training-order shuffle",
    )
)


PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile of the documents table (extension: data-quality
    admission check; one scan, exact distincts via Expand)."""
    from ..operators.sampling import profile_columns

    return profile_columns(load(spark, sf_dir, "documents"), PROFILE_COLS)


PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
       count(*) - count({c}) AS n_null, count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_val, CAST(max({c}) AS VARCHAR) AS max_val
FROM documents"""
    for c in PROFILE_COLS
)

QUERIES.append(
    Query("profile_documents", profile_documents, PROFILE_ORACLE, "ext: column profiling")
)


SEARCH_N_QUERIES = 5
SEARCH_TOPK = 5
# integer-scaled rare-term weight: BIGINT sums are order-independent
# (a float sum of 1/df terms could flip ranks in the last ulp)
SEARCH_SCALE = 1_000_000_000_000


def multi_query_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-driven batch retrieval (extension): the tf-idf keywords of
    the first 5 docs become 5 queries, answered through the inverted
    index — the shape that serves millions of queries where the
    literal-term BM25 projection cannot. Scoring is rare-term-weighted
    overlap, sum(SCALE div dfreq), kept in BIGINT end-to-end.

    Scale: queries (id, term) broadcast against the postings (bounded
    query batches; flip the build side for query-heavy workloads), one
    groupBy on (query_id, doc_id), per-query top-k window. The query
    batch's distinct terms also PRE-FILTER the index below its dfreq
    window (per-term df is self-contained, so the restriction is
    result-identical) — the term shuffle carries ~15 terms' postings
    instead of the corpus vocabulary.

    Query construction gets the same pushdown (r12): ranking tf·idf
    for the 5 query docs only needs (a) their own term counts — the
    doc filter reaches the parquet scan — and (b) the GLOBAL df of
    the terms those docs contain. Both live in the operator's
    ``doc_filter`` pushdown (operators/text.py tfidf_top_terms —
    ONE copy of the score formula and tiebreak); identical output to
    ranking the whole corpus then filtering (per-term df is
    self-contained; the oracle replays the unfiltered form), measured
    4.4 s → ~1.7 s at sf0.1."""
    from ..caching import track
    from ..operators.text import inverted_index, tfidf_top_terms

    docs = load(spark, sf_dir, "documents")
    # consumed twice (term pre-filter + scoring join) — persist the
    # ~15-row frame so the ranking isn't recomputed per consumer
    queries = track(
        tfidf_top_terms(
            docs, k=TFIDF_K, doc_filter=F.col("doc_id") < SEARCH_N_QUERIES
        )
        .select(F.col("doc_id").alias("query_id"), "term")
        .persist()
    )
    postings = inverted_index(docs, min_df=INDEX_MIN_DF, terms=queries)
    scored = (
        postings.join(F.broadcast(queries), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.expr(f"CAST(sum({SEARCH_SCALE} DIV dfreq) AS BIGINT)").alias("score_scaled"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_scaled").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SEARCH_TOPK)
        .select("query_id", "doc_id", "score_scaled", "rank")
    )


MULTI_QUERY_SEARCH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
ex AS (
  SELECT doc_id, len(ws) AS n_tokens, unnest(ws) AS term FROM t
),
tc AS (
  SELECT doc_id, n_tokens, term, count(*) AS cnt FROM ex GROUP BY 1, 2, 3
),
dfc AS (SELECT term, count(*) AS dfreq FROM tc GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
qterms AS (
  SELECT doc_id AS query_id, term FROM (
    SELECT tc.doc_id, tc.term,
           ROW_NUMBER() OVER (PARTITION BY tc.doc_id
                              ORDER BY (tc.cnt * n.n_docs) / (tc.n_tokens * dfc.dfreq) DESC,
                                       tc.term ASC) AS rank
    FROM tc JOIN dfc USING (term) CROSS JOIN n
  ) WHERE rank <= {TFIDF_K} AND doc_id < {SEARCH_N_QUERIES}
),
postings AS (
  SELECT term, doc_id, count(*) OVER (PARTITION BY term) AS dfreq
  FROM (SELECT DISTINCT doc_id, unnest(ws) AS term FROM t)
),
scored AS (
  SELECT q.query_id, p.doc_id,
         CAST(sum({SEARCH_SCALE} // p.dfreq) AS BIGINT) AS score_scaled
  FROM (SELECT * FROM postings WHERE dfreq >= {INDEX_MIN_DF}) p
  JOIN qterms q USING (term)
  WHERE p.doc_id <> q.query_id
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score_scaled, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score_scaled DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {SEARCH_TOPK}
"""

QUERIES.append(
    Query(
        "multi_query_search",
        multi_query_search,
        MULTI_QUERY_SEARCH_ORACLE,
        "ext: index-driven batch retrieval",
    )
)


# --- Misra-Gries heavy hitters over corpus tokens ---

HH_K = 16  # sketch capacity; error/coverage bound is n/(HH_K+1)


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top tokens via the mergeable Misra-Gries sketch
    (operators/sketches.py): per-partition k-counter partials, one
    k x partitions shuffle — distinct-token cardinality never touches
    the wire. Which borderline items survive (and their undercounts)
    depends on partitioning → rows-only driver check; the bounds are
    driver-hashed by `heavy_hitters_check`."""
    from ..operators.sketches import misra_gries

    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    return misra_gries(toks, "tok", HH_K)


def heavy_hitters_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch guarantees, checked against exact counts (the exact
    groupBy is the labeled baseline — check scale only):

    - ``err_violations`` = 0: every sketched item exists and its
      estimate e satisfies  true - n/(k+1) <= e <= true  (integer
      arithmetic: (true - e) * (k+1) <= n);
    - ``coverage_misses`` = 0: every token with true count
      > n/(k+1) survives the sketch (PODS'12 mergeability theorem —
      holds for ANY partitioning/merge order, which is what makes
      this driver-hashable while the raw sketch row set is not)."""
    from ..caching import track
    from ..operators.sketches import misra_gries

    toks = track(
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .persist()
    )
    sk = misra_gries(toks, "tok", HH_K)
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_c"))
    ex = exact.crossJoin(F.broadcast(exact.agg(F.sum("true_c").alias("n"))))
    j = sk.join(ex, sk.item == ex.tok, "left")
    err = j.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("tok").isNull()
                    | (F.col("est") > F.col("true_c"))
                    | ((F.col("true_c") - F.col("est")) * (HH_K + 1) > F.col("n")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("err_violations")
    )
    cov = (
        ex.filter(F.col("true_c") * (HH_K + 1) > F.col("n"))
        .join(sk, F.col("tok") == F.col("item"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("coverage_misses"))
    )
    return err.crossJoin(cov)


HEAVY_HITTERS_CHECK_ORACLE = """
SELECT CAST(0 AS BIGINT) AS err_violations, CAST(0 AS BIGINT) AS coverage_misses
"""

QUERIES.append(
    Query("heavy_hitters", heavy_hitters, None, "ext: Misra-Gries heavy hitters")
)
QUERIES.append(
    Query(
        "heavy_hitters_check",
        heavy_hitters_check,
        HEAVY_HITTERS_CHECK_ORACLE,
        "ext: heavy-hitter sketch property oracle",
    )
)


# --- word co-occurrence PMI ---

PMI_TOPK = 50


def word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top document-level co-occurring word pairs by pointwise mutual
    information: pmi = ln(P(a,b) / (P(a) P(b))) with doc-frequency
    probabilities, rounded half-up to 6 dp; ties broken by pair.

    Scale: the pair explode is VOCABULARY-bounded — pairs come from the
    per-doc DISTINCT word array via a nested JVM transform (no self
    join), so a doc contributes at most |vocab ∩ doc|² pairs; at web
    scale prune ws to a broadcast top-V vocabulary first and the
    fan-out is V²-capped per doc. Word doc-frequencies are a broadcast
    (vocab-sized) side; the only large shuffle is the (w1, w2) count.
    The final top-k is orderBy+limit — Spark's TakeOrderedAndProject,
    a per-partition partial top-k merged on the driver, so the
    vocab²-sized pair frame never moves to one partition; only the
    ≤ PMI_TOPK surviving rows pay a (bounded) rank window."""
    from ..caching import track
    from ..tables import spread_scan

    # layout spread before the per-doc distinct/sort and the vocab²
    # pair fan-out (guide §2.5) — single-file inputs otherwise run the
    # whole pre-shuffle pipeline on one core; no-op on real layouts
    t = track(
        spread_scan(load(spark, sf_dir, "documents").select("text"))
        .select(F.array_sort(F.array_distinct(F.split("text", " "))).alias("ws"))
        .persist()
    )
    pairs = t.select(
        F.explode(
            F.expr(
                "flatten(transform(ws, (x, i) -> "
                "transform(slice(ws, i + 2, size(ws)), y -> struct(x AS w1, y AS w2))))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cab = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    # persist the vocab-sized doc-frequency frame (r19): it broadcasts
    # twice (c_a and c_b renames), and unpersisted each broadcast build
    # re-ran the token explode + groupBy over the cached corpus arrays
    # (profiled: two identical ~4.5 s CPU stages at sf0.1) for a frame
    # bounded by |vocabulary| at any scale
    cw = track(
        t.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
        .persist()
    )
    nd = t.agg(F.count(F.lit(1)).alias("nd"))
    scored = (
        cab.join(F.broadcast(cw.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))), "w1")
        .join(F.broadcast(cw.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))), "w2")
        .crossJoin(F.broadcast(nd))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.expr(
                "floor(ln(CAST(c_ab AS DOUBLE) * nd / (CAST(c_a AS DOUBLE) * c_b)) "
                "* 1000000 + 0.5) / 1000000"
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(PMI_TOPK)
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
    return top.withColumn("rank", F.row_number().over(w))


WORD_PMI_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ws FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS w FROM t),
cab AS (
  SELECT a.w AS w1, b.w AS w2, count(*) AS c_ab
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
),
cw AS (SELECT w, count(*) AS c_w FROM tok GROUP BY 1),
n AS (SELECT count(*) AS nd FROM t),
scored AS (
  SELECT w1, w2, c_ab,
         floor(ln(CAST(c_ab AS DOUBLE) * nd / (CAST(ca.c_w AS DOUBLE) * cb.c_w))
               * 1000000 + 0.5) / 1000000 AS pmi
  FROM cab
  JOIN cw ca ON ca.w = cab.w1
  JOIN cw cb ON cb.w = cab.w2
  CROSS JOIN n
)
SELECT w1, w2, c_ab, pmi, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank FROM scored
) WHERE rank <= {PMI_TOPK}
"""

QUERIES.append(
    Query("word_pmi", word_pmi, WORD_PMI_ORACLE, "ext: co-occurrence PMI")
)


# --- deterministic weighted sampling ---

WS_M = 20
WS_SEED = 7


def weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample (weight = n_chars) via the A-Res
    key: heavier docs win proportionally more often, the draw is a
    pure function of (seed, doc_id) — reproducible on any
    partitioning, oracle-checkable on any ANSI engine."""
    from ..operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", "lang", WS_M, WS_SEED)


WEIGHTED_SAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         floor(ln(CAST((((doc_id + {WS_SEED}) % 1000000007) * 2654435761)
                       % 1000000007 + 1 AS DOUBLE) / 1000000008.0)
               / CAST(n_chars AS DOUBLE) * 1000000000 + 0.5) / 1000000000 AS wkey
  FROM documents
)
SELECT doc_id, lang, n_chars, wkey, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY wkey DESC, doc_id ASC) AS rank
  FROM keyed
) WHERE rank <= {WS_M}
"""

QUERIES.append(
    Query("weighted_sample", weighted_sample_q, WEIGHTED_SAMPLE_ORACLE,
          "ext: Efraimidis-Spirakis weighted sampling")
)


# --- snapshot diff (dataset versioning) ---


def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two simulated corpus releases (drop-3 snapshot vs drop-7
    snapshot with every 5th doc edited): row-level added / removed /
    changed / unchanged verdicts. The operator ships (id, md5) pairs
    into the full-outer join; the oracle re-derives the verdicts by
    comparing the TEXTS directly, so the fingerprinting itself is
    under test."""
    from ..operators.versioning import snapshot_diff

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 10 != 3)
    new = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new)


SNAPSHOT_DIFF_ORACLE = """
WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 7
)
SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""

QUERIES.append(
    Query("snapshot_diff", snapshot_diff_q, SNAPSHOT_DIFF_ORACLE,
          "ext: dataset-release diff (K4 batch analog)")
)


def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc avg negative log-prob under the corpus's own
    Jelinek-Mercer-interpolated bigram LM — the word-order-aware
    perplexity filter one order up from doc_logprob."""
    from ..operators.text import bigram_logprob

    return bigram_logprob(load(spark, sf_dir, "documents"))


DOC_BIGRAM_LOGPROB_ORACLE = """
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr FROM documents
),
pos AS (
  SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(arr) - 1)) AS i) t
  WHERE len(arr) >= 2
),
bic AS (SELECT w1, w2, count(*) AS n_b FROM pos GROUP BY 1, 2),
ctx AS (SELECT w1, sum(n_b) AS n_c FROM bic GROUP BY 1),
uni AS (
  SELECT token, count(*) AS n_u
  FROM (SELECT unnest(arr) AS token FROM docs) GROUP BY 1
),
tot AS (SELECT sum(n_u) AS t FROM uni),
scored AS (
  SELECT doc_id,
         count(*) AS n_bigrams,
         round(-avg(ln(0.75 * n_b / n_c + 0.25 * n_u / t)), 4) AS avg_neg_logprob
  FROM pos
  JOIN bic USING (w1, w2) JOIN ctx USING (w1)
  JOIN uni ON uni.token = pos.w2 CROSS JOIN tot
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       COALESCE(s.avg_neg_logprob, 0.0) AS avg_neg_logprob
FROM documents d LEFT JOIN scored s USING (doc_id)
"""

QUERIES.append(
    Query(
        "doc_bigram_logprob",
        doc_bigram_logprob,
        DOC_BIGRAM_LOGPROB_ORACLE,
        "ext: interpolated bigram-LM perplexity proxy",
    )
)


def clf_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear-classifier quality scoring over documents — the
    model-based filtering stage (deterministic weight function stands
    in for trained weights; plan shape identical)."""
    from ..operators.text import classifier_score

    return classifier_score(load(spark, sf_dir, "documents"))


CLF_QUALITY_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 8))::BIGINT % 65536 AS bucket
  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents)
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum((bucket * 2654435761) % 1000003) AS BIGINT) AS sw
  FROM toks GROUP BY 1
)
SELECT doc_id, n_tokens,
       round((sw * 2.0 / n_tokens) / 1000003 - 1.0, 6) AS clf_logit,
       round(1.0 / (1.0 + exp(-4.0 * ((sw * 2.0 / n_tokens) / 1000003 - 1.0))), 4)
         AS clf_score
FROM agg
"""

QUERIES.append(
    Query(
        "clf_quality_score",
        clf_quality_score,
        CLF_QUALITY_ORACLE,
        "ext: hashed linear classifier quality gate",
    )
)


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate against the corpus's top-500 token vocabulary
    — the tokenizer-coverage audit."""
    from ..operators.text import vocab_coverage

    return vocab_coverage(load(spark, sf_dir, "documents"))


VOCAB_OOV_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
  FROM documents
),
vocab AS (
  SELECT token FROM (SELECT token, count(*) AS n_occ FROM toks GROUP BY 1)
  ORDER BY n_occ DESC, token ASC LIMIT 500
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) - count(v.token) AS BIGINT) AS n_oov,
       floor((count(*) - count(v.token)) * 1.0 / count(*) * 1000000 + 0.5) / 1000000
         AS oov_rate
FROM toks LEFT JOIN vocab v USING (token)
GROUP BY doc_id
"""

QUERIES.append(
    Query(
        "vocab_oov_rate",
        vocab_oov_rate,
        VOCAB_OOV_ORACLE,
        "ext: tokenizer vocabulary coverage audit",
    )
)


def doc_embedding_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embeddings in auditable long form —
    the no-model text→vector bridge (hashing trick, ±1 signs)."""
    from ..operators.text import hashed_doc_embedding

    return hashed_doc_embedding(load(spark, sf_dir, "documents"))


DOC_EMBEDDING_HASH_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 8))::BIGINT % 65536 AS bucket
  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents)
),
pb AS (SELECT doc_id, bucket, count(*) AS cnt FROM toks GROUP BY 1, 2),
expanded AS (
  SELECT doc_id, dim_idx, cnt,
         (((bucket * 2654435761 + dim_idx * 40503) % 1000003)
          * ((bucket * 2654435761 + dim_idx * 40503) % 1000003)
          % 1000003) % 2 * 2 - 1 AS sign
  FROM pb, (SELECT unnest(generate_series(0, 63)) AS dim_idx) d
)
SELECT doc_id, CAST(dim_idx AS INTEGER) AS dim_idx,
       CAST(sum(cnt * sign) AS BIGINT) AS val
FROM expanded GROUP BY 1, 2
"""

QUERIES.append(
    Query(
        "doc_embedding_hash",
        doc_embedding_hash,
        DOC_EMBEDDING_HASH_ORACLE,
        "ext: feature-hashing doc embedder (text -> vector bridge)",
    )
)


def doc_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end NO-MODEL semantic near-dup over raw text: hashed
    doc embeddings → sign-bit LSH blocking → blocked cosine pairs —
    three operators composed, the whole pipeline (including the
    blocking) expressible in ANSI SQL, so the driver hash covers the
    COMPOSITION, not just each stage.

    The blocking key is the sign pattern of the first 8 embedding
    dims. No second hashing pass is needed: each hashed dim is already
    a random signed projection of the bag-of-words, so its sign bit IS
    an SRP plane — identical vectors collide with certainty, and
    near-dups (cosine ≥ 0.8 here) collide with the usual LSH
    probability; cross-block misses are the documented recall
    trade-off the oracle mirrors exactly. Scale: the pair join is
    equi-keyed on the 256-bucket block (same candidate-bounding shape
    as dedup_embedding_cosine), embeddings are integer-exact, and the
    cosine is the only float op."""
    from ..operators.dedup import embedding_cosine_pairs
    from ..operators.text import hashed_doc_embedding_vec

    from ..caching import track

    emb = hashed_doc_embedding_vec(load(spark, sf_dir, "documents"))
    # persist the embedded+blocked corpus: the pair join consumes it
    # on BOTH sides, and without the persist each side re-runs the
    # full embedder pipeline (filters on the join keys diverge the
    # branches, so ReuseExchange can't always collapse them). One
    # corpus-sized cache, released at the query boundary — the same
    # pattern as the MinHash candidates persist.
    blocked = track(
        emb.withColumn(
            "blk",
            F.expr(
                "aggregate(sequence(0, 7), 0L, (acc, j) -> "
                "acc + IF(element_at(embedding, j + 1) >= 0, shiftleft(1L, j), 0L))"
            ),
        ).persist()
    )
    return embedding_cosine_pairs(
        blocked, "doc_id", "embedding", block_col="blk", threshold=0.8
    )


DOC_SEMANTIC_PAIRS_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 8))::BIGINT % 65536 AS bucket
  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents)
),
pb AS (SELECT doc_id, bucket, count(*) AS cnt FROM toks GROUP BY 1, 2),
expanded AS (
  SELECT doc_id, dim_idx, cnt,
         (((bucket * 2654435761 + dim_idx * 40503) % 1000003)
          * ((bucket * 2654435761 + dim_idx * 40503) % 1000003)
          % 1000003) % 2 * 2 - 1 AS sign
  FROM pb, (SELECT unnest(generate_series(0, 63)) AS dim_idx) d
),
emb AS (
  SELECT doc_id, dim_idx, CAST(sum(cnt * sign) AS BIGINT) AS val
  FROM expanded GROUP BY 1, 2
),
blk AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN dim_idx < 8 AND val >= 0
                       THEN CAST(pow(2, dim_idx) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS blk
  FROM emb GROUP BY 1
),
nrm AS (SELECT doc_id, sqrt(sum(val * val) * 1.0) AS nn FROM emb GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.val * b.val) AS dot
  FROM emb a JOIN emb b ON a.dim_idx = b.dim_idx AND a.doc_id < b.doc_id
  JOIN blk ba ON ba.doc_id = a.doc_id
  JOIN blk bb ON bb.doc_id = b.doc_id
  WHERE ba.blk = bb.blk
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(dot / (na.nn * nb.nn), 6) AS cosine
FROM pairs
JOIN nrm na ON na.doc_id = id_a
JOIN nrm nb ON nb.doc_id = id_b
WHERE round(dot / (na.nn * nb.nn), 6) >= 0.8
"""

QUERIES.append(
    Query(
        "doc_semantic_pairs",
        doc_semantic_pairs,
        DOC_SEMANTIC_PAIRS_ORACLE,
        "ext: composed text->embedding->LSH-blocked near-dup",
    )
)


def filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reason-coded filter audit: corpus_prep's verdict for EVERY doc
    — (doc_id, keep, reasons) with reasons the comma-joined failed
    rules in fixed order (dup, lang, quality). corpus_prep answers
    "what survives"; this answers the operational question "why did
    each doc die", which is what you audit before shipping a filter
    change (pytest pins keep=1 ⇔ corpus_prep emits the doc). Same
    scale shape as corpus_prep: one scan, one content-hash shuffle,
    every rule a JVM expression."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.lower("text")))
    is_dup = F.col("doc_id") != F.min("doc_id").over(w)
    reasons = F.concat_ws(
        ",",
        F.when(is_dup, "dup"),
        F.when(pred_lang_expr() == "und", "lang"),
        F.when(quality_expr() < CORPUS_QUALITY_MIN, "quality"),
    )
    return docs.select(
        "doc_id",
        reasons.alias("reasons"),
    ).select(
        "doc_id",
        F.when(F.col("reasons") == "", 1).otherwise(0).alias("keep"),
        "reasons",
    )


FILTER_AUDIT_ORACLE = f"""
WITH markers AS (
  SELECT doc_id,
         greatest(
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ({_markers_sql("de")}))),
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ({_markers_sql("en")}))),
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ({_markers_sql("es")}))),
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ({_markers_sql("fr")})))
         ) AS max_markers,
         round(0.5 * least(len(regexp_split_to_array(lower(text), '\\s+')) / 200.0, 1.0)
               + 0.5 * (len(list_distinct(regexp_split_to_array(lower(text), '\\s+')))
                        / len(regexp_split_to_array(lower(text), '\\s+'))), 4) AS q,
         CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5(lower(text)))
              THEN 1 ELSE 0 END AS is_dup
  FROM documents
),
verdicts AS (
  SELECT doc_id,
         concat_ws(',',
           CASE WHEN is_dup = 1 THEN 'dup' END,
           CASE WHEN max_markers = 0 THEN 'lang' END,
           CASE WHEN q < {CORPUS_QUALITY_MIN} THEN 'quality' END) AS reasons
  FROM markers
)
SELECT doc_id,
       CASE WHEN reasons = '' THEN 1 ELSE 0 END AS keep,
       reasons
FROM verdicts
"""

QUERIES.append(
    Query(
        "filter_audit",
        filter_audit,
        FILTER_AUDIT_ORACLE,
        "ext: reason-coded filter verdicts (corpus_prep audit twin)",
    )
)


def encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage audit (mojibake digraphs / U+FFFD / control
    bytes) over documents. The synthetic corpus is clean ASCII, so
    every count is 0 here — the planted-damage cross-engine parity
    lives in tests/test_textops_props.py; this row pins that the
    operator stays zero-false-positive on clean text."""
    from ..operators.text import encoding_flags

    return encoding_flags(load(spark, sf_dir, "documents"))


# the oracle interpolates the OPERATOR's pattern constants — one
# source of truth, so a pattern tweak cannot silently diverge the two
# engines (round-7 cleanup)
from ..operators.text import ENC_CONTROL as _ENC_CONTROL
from ..operators.text import ENC_MOJIBAKE as _ENC_MOJ
from ..operators.text import ENC_REPLACEMENT as _ENC_REP

ENCODING_AUDIT_ORACLE = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_ENC_MOJ}')) AS INTEGER) AS n_mojibake,
  CAST(len(regexp_extract_all(text, '{_ENC_REP}')) AS INTEGER) AS n_replacement,
  CAST(len(regexp_extract_all(text, '{_ENC_CONTROL}')) AS INTEGER) AS n_control,
  CASE WHEN len(regexp_extract_all(text, '{_ENC_MOJ}')) = 0
        AND len(regexp_extract_all(text, '{_ENC_REP}')) = 0
        AND len(regexp_extract_all(text, '{_ENC_CONTROL}')) = 0
       THEN 1 ELSE 0 END AS clean
FROM documents
"""

QUERIES.append(
    Query(
        "encoding_audit",
        encoding_audit,
        ENCODING_AUDIT_ORACLE,
        "ext: encoding-damage (mojibake/U+FFFD/control) audit",
    )
)


def training_mix_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE assembly query: the full training-mix manifest in one
    composition — (1) prep gates (exact-dup suppression by content
    hash, language identified, quality ≥ 0.40), (2) benchmark
    decontamination (drop anything sharing a distinct 5-gram with the
    held-out benchmark subset), (3) token-budget mixture resampling
    (3:1 even:odd source weights inside a 50% budget, thresholds
    computed over the FILTERED corpus — the budget applies to what
    survived, not to raw crawl volume), (4) deterministic
    train/val/test assignment. Output: (doc_id, source, n_tokens,
    split) for exactly the docs a trainer would read — the manifest
    export_shards/corpus_shuffle then materialize.

    Every stage is the registered single-stage operator's machinery,
    and the whole composition carries ONE exact oracle — so the driver
    hash pins the interactions (a gate reordering or a budget computed
    over the wrong corpus fails the hash even when each stage is
    individually correct).

    Scale shape: content-hash window + broadcast benchmark-shingle
    anti-join + per-source 1-row-per-source totals broadcast + pure
    projections — the corpus shuffles once for the dup window and once
    as (id, shingle-hash) pairs; no corpus-sized join anywhere."""
    from ..operators.sampling import mixture_resample, split_bucket_expr
    from ..operators.text import contamination_overlap

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.lower("text")))
    is_bench = F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0
    gated = (
        docs.withColumn("_min_id", F.min("doc_id").over(w))
        .filter(
            (F.col("doc_id") == F.col("_min_id"))
            & ~is_bench
            & (pred_lang_expr() != "und")
            & (quality_expr() >= CORPUS_QUALITY_MIN)
        )
        .select("doc_id", "source", "text")
    )
    contaminated = contamination_overlap(
        gated, docs.filter(is_bench), n=DECON_N
    ).select("doc_id")
    from ..caching import track

    # persist the filtered narrow (id, source, n_tokens) frame: the
    # mixture stage consumes it three ways (per-source totals, grand
    # total, and the final keep join) and each consumer would
    # otherwise replay gates + decontamination from the scan — at
    # 100 TB that is three full corpus passes for a kilobytes-wide
    # survivor manifest. Released at the query boundary as usual.
    clean = track(
        gated.join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", bpe_count_expr().alias("n_tokens"))
        .persist()
    )
    mixed = mixture_resample(clean, _MIX_WEIGHTS, budget_permille=_MIX_BP).filter(
        F.col("keep") == 1
    )
    bucket = split_bucket_expr("doc_id")
    return mixed.select(
        "doc_id",
        "source",
        "n_tokens",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias(
            "split"
        ),
    )


TRAINING_MIX_ORACLE = f"""
WITH marker AS (
  SELECT doc_id, source, text,
         greatest(
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ({_markers_sql("de")}))),
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ({_markers_sql("en")}))),
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ({_markers_sql("es")}))),
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ({_markers_sql("fr")})))
         ) AS max_markers,
         round(0.5 * least(len(regexp_split_to_array(lower(text), '\\s+')) / 200.0, 1.0)
               + 0.5 * (len(list_distinct(regexp_split_to_array(lower(text), '\\s+')))
                        / len(regexp_split_to_array(lower(text), '\\s+'))), 4) AS q,
         min(doc_id) OVER (PARTITION BY md5(lower(text))) AS min_id
  FROM documents
),
gated AS (
  SELECT doc_id, source, text FROM marker
  WHERE doc_id = min_id AND doc_id % {DECON_MOD} <> 0
    AND max_markers > 0 AND q >= {CORPUS_QUALITY_MIN}
),
toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - {DECON_N - 1}, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                    || ' ' || ws[i+3] || ' ' || ws[i+4])) AS shingle
  FROM toks
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_MOD} = 0),
contaminated AS (
  SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (shingle)
),
clean AS (
  SELECT g.doc_id, g.source,
         len(regexp_extract_all(lower(g.text), '{TOKEN_REGEX}')) AS n_tokens
  FROM gated g LEFT JOIN contaminated c ON g.doc_id = c.doc_id
  WHERE c.doc_id IS NULL
),
totals AS (SELECT source, sum(n_tokens) AS src_tokens FROM clean GROUP BY 1),
grand AS (SELECT sum(src_tokens) AS grand_tokens FROM totals),
th AS (
  SELECT source,
         least(1000000, CAST(floor(
           CAST(CAST(floor(CAST(grand_tokens AS DECIMAL(38,0)) * {_MIX_BP} * ({_MIX_CASE})
                           / ({_MIX_WSUM} * 1000)) AS BIGINT) AS DECIMAL(38,0)) * 1000000
           / src_tokens) AS BIGINT)) AS keep_thresh
  FROM totals, grand
)
SELECT t.doc_id, t.source, t.n_tokens,
       CASE WHEN {_BUCKET} < 80 THEN 'train'
            WHEN {_BUCKET} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM clean t JOIN th USING (source)
WHERE {_MIX_BUCKET} < keep_thresh
"""

QUERIES.append(
    Query(
        "training_mix_snapshot",
        training_mix_snapshot,
        TRAINING_MIX_ORACLE,
        "ext: full assembly compose (gates+decontam+mixture+split)",
    )
)


def markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-to-text extraction over documents (the synthetic corpus
    is markup-free, so clean_text == normalized text and
    removed_chars pins zero false stripping; the planted-markup
    cross-engine parity lives in tests/test_textops_props.py)."""
    from ..operators.text import strip_markup

    return strip_markup(load(spark, sf_dir, "documents"))


from ..operators.text import _ENTITIES as _MARKUP_ENTITIES
from ..operators.text import MARKUP_BLOCKS as _MARKUP_BLOCKS
from ..operators.text import MARKUP_TAG as _MARKUP_TAG

# entity unescape chain generated from the operator's own table (one
# source of truth — a pattern tweak cannot silently diverge the two
# engines, same rule as ENCODING_AUDIT_ORACLE)
_entity_chain = "t"
for _ent, _rep in _MARKUP_ENTITIES:
    _entity_chain = (
        f"replace({_entity_chain}, '{_ent}', '{_rep.replace(chr(39), chr(39) * 2)}')"
    )

MARKUP_STRIP_ORACLE = f"""
WITH s1 AS (SELECT doc_id, text, regexp_replace(text,
      '{_MARKUP_BLOCKS}', ' ', 'g') AS t FROM documents),
s2 AS (SELECT doc_id, text, regexp_replace(t, '{_MARKUP_TAG}', ' ', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, text, {_entity_chain} AS t FROM s2),
s4 AS (SELECT doc_id, text, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS t FROM s3)
SELECT doc_id, t AS clean_text,
       CAST(len(text) - len(t) AS INTEGER) AS removed_chars
FROM s4
"""

QUERIES.append(
    Query(
        "markup_strip",
        markup_strip,
        MARKUP_STRIP_ORACLE,
        "ext: markup-to-text extraction (boilerplate stage)",
    )
)


def changelog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioning closure: diff two synthetic snapshots (the
    snapshot_diff query's construction), ship the diff as an
    upsert/delete changelog, and APPLY it back to the old snapshot —
    the oracle computes the new snapshot directly, so the driver hash
    pins apply(old, changes(old, new)) == new exactly (MERGE INTO
    semantics without a table format)."""
    from ..operators.versioning import apply_changes, changes_from_diff

    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.pmod("doc_id", F.lit(10)) != 3).select("doc_id", "text")
    new = docs.filter(F.pmod("doc_id", F.lit(10)) != 7).select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(5)) == 0, F.concat("text", F.lit(" [rev2]")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return apply_changes(old, changes_from_diff(old, new))


CHANGELOG_ROUNDTRIP_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
FROM documents WHERE doc_id % 10 <> 7
"""

QUERIES.append(
    Query(
        "changelog_roundtrip",
        changelog_roundtrip,
        CHANGELOG_ROUNDTRIP_ORACLE,
        "ext: K4 closure — apply(old, diff(old,new)) == new",
    )
)


# --- BPE merge-candidate induction (tokenizer-training step 1) ---
#
# The first iteration of byte-pair-encoding training: rank adjacent
# symbol pairs by corpus frequency — the pair a BPE trainer would
# merge next. The scale story is the two-level explode: token counts
# collapse the corpus to a VOCABULARY frame first (one word shuffle
# with map-side combine), and the character-pair fan-out happens on
# distinct words only, weighted by their corpus frequency — a word
# seen a billion times contributes its pairs once. The pair aggregate
# is alphabet²-bounded, and the final top-k is orderBy+limit (Spark's
# TakeOrderedAndProject — per-partition partial top-k, no full sort);
# only the ≤ BPE_TOPK survivors pay the rank window.

BPE_TOPK = 50


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where((F.col("w") != "") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    # NB: guard length >= 2 BEFORE the sequence — Spark's
    # sequence(1, 0) infers step -1 and yields [1, 0], not [].
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wf",
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("wf").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(BPE_TOPK)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "pair"))
        .cast("long")
        .alias("rank"),
        "pair",
        "freq",
    )


BPE_MERGE_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (
  SELECT w, count(*) AS wf FROM toks
  WHERE w <> '' AND length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT substr(v.w, t.i, 2) AS pair, v.wf
  FROM vocab v,
       LATERAL (SELECT unnest(generate_series(1, length(v.w) - 1)) AS i) t
),
topk AS (
  SELECT pair, CAST(sum(wf) AS BIGINT) AS freq FROM pairs GROUP BY pair
  ORDER BY freq DESC, pair LIMIT {BPE_TOPK}
)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, pair) AS BIGINT) AS rank,
       pair, freq
FROM topk
"""

QUERIES.append(
    Query(
        "bpe_merge_candidates",
        bpe_merge_candidates,
        BPE_MERGE_ORACLE,
        "ext: BPE pair-merge induction (vocab-bounded explode)",
    )
)


# --- incremental view maintenance over the changelog ---
#
# The aggregate-side counterpart of changelog_roundtrip: a stored
# per-(source, lang) rollup is kept current under the same synthetic
# republish (deletes + [rev2] text edits) by applying per-group
# DELTAS — subtract every touched id's old contribution, add the
# upsert payloads — instead of re-aggregating the corpus. The oracle
# aggregates the new snapshot directly, so the driver hash pins
# maintain(agg(old), changes(old, new)) == agg(new) exactly. At
# 100 TB the old aggregate is the stored artifact and the whole
# update is edit-volume-sized (operators/versioning.py scale note).


def agg_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import changes_from_diff, incremental_agg_maintenance

    docs = load(spark, sf_dir, "documents")
    payload = ("text", "source", "lang")
    old = docs.filter(F.pmod("doc_id", F.lit(10)) != 3).select("doc_id", *payload)
    new = docs.filter(F.pmod("doc_id", F.lit(10)) != 7).select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(5)) == 0, F.concat("text", F.lit(" [rev2]")))
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
        "lang",
    )
    from ..caching import track

    chars = F.length("text").cast("long").alias("chars")
    old_facts = old.select("doc_id", "source", "lang", chars)
    # the changelog is consumed twice (minus join + plus agg) and is
    # edit-volume-sized — exactly the artifact a production republish
    # ships — so persist it rather than re-running the fingerprint
    # diff pipeline per consumer
    changes = track(
        changes_from_diff(old, new, content_cols=payload)
        .select("doc_id", "op", "source", "lang", chars)
        .persist()
    )
    return incremental_agg_maintenance(
        old_facts, changes, "doc_id", ("source", "lang"), ("chars",)
    )


AGG_INCREMENTAL_ORACLE = """
WITH new_snap AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text,
         source, lang
  FROM documents WHERE doc_id % 10 <> 7
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(length(text)) AS BIGINT) AS chars
FROM new_snap GROUP BY source, lang
"""

QUERIES.append(
    Query(
        "agg_incremental_update",
        agg_incremental_update,
        AGG_INCREMENTAL_ORACLE,
        "ext: incremental view maintenance — maintain(agg(old), changelog) == agg(new)",
    )
)


# --- curriculum buckets: exact quality quartiles WITHOUT a global sort ---
#
# The curriculum-sampling artifact (easy->hard training schedules needs
# the corpus cut into quality quantile buckets). NTILE over the corpus
# is the textbook spelling and a single-partition global sort at scale;
# this computes the SAME exact cut through the score HISTOGRAM: quality
# rounds to 4 dp, so the per-score frame is <= 10001 rows no matter the
# corpus — one corpus shuffle builds it, the cumulative/bucket pass
# runs on the tiny frame, and no row ever joins back. Ties share a
# bucket (all docs of one score land where the score's first doc
# falls) — the deterministic, partition-independent tie policy.

N_CURRICULUM = 4


def quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_expr

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        quality_expr().alias("q"),
        F.size(F.split(F.lower("text"), r"\s+")).alias("toks"),
    )
    hist = scored.groupBy("q").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("toks").cast("long").alias("toks"),
    )
    w_ord = Window.orderBy("q")
    cum_before = F.coalesce(
        F.sum("cnt").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    total = F.sum("cnt").over(
        w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ).cast("long")
    bucketed = hist.select(
        "q", "cnt", "toks",
        (F.lit(N_CURRICULUM) * cum_before).cast("long").alias("scaled"),
        total.alias("total"),
    ).select(
        "q", "cnt", "toks",
        (F.expr("scaled div total") + 1).cast("long").alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.min("q").alias("min_quality"),
            F.max("q").alias("max_quality"),
        )
    )


QUALITY_CURRICULUM_ORACLE = f"""
WITH t AS (
  SELECT regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
scored AS (
  SELECT round(0.5 * least(len(ws) / 200.0, 1.0)
               + 0.5 * (len(list_distinct(ws)) / len(ws)), 4) AS q,
         len(ws) AS toks
  FROM t
),
hist AS (
  SELECT q, count(*) AS cnt, CAST(sum(toks) AS BIGINT) AS toks
  FROM scored GROUP BY q
),
cum AS (
  SELECT q, cnt, toks,
         CAST(COALESCE(sum(cnt) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
         CAST(sum(cnt) OVER () AS BIGINT) AS total
  FROM hist
)
SELECT CAST(({N_CURRICULUM} * cum_before) // total + 1 AS BIGINT) AS bucket,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       min(q) AS min_quality,
       max(q) AS max_quality
FROM cum GROUP BY 1
"""

QUERIES.append(
    Query(
        "quality_curriculum",
        quality_curriculum,
        QUALITY_CURRICULUM_ORACLE,
        "ext: curriculum quantile buckets via score histogram (no global sort)",
    )
)


# --- iterative BPE merge training (driver-loop iterative algorithm) ---
#
# Registered rows-only (the merge sequence is the fixpoint of an
# iterative argmax — no single SQL expresses N rounds); verification
# is the crafted pytest against a pure-Python BPE reference
# (tests/test_textops_props.py) plus the single-round
# bpe_merge_candidates full oracle covering the pair-count machinery.

BPE_TRAIN_ROUNDS = 6


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_learn_merges

    return bpe_learn_merges(
        load(spark, sf_dir, "documents"), n_merges=BPE_TRAIN_ROUNDS
    )


QUERIES.append(
    Query(
        "bpe_train_merges",
        bpe_train_merges,
        None,
        "ext: iterative BPE merge training (vocab-frame rounds, 1-row argmax)",
    )
)


# --- Count-Min sketch: token-frequency estimates, exactly replicated ---
#
# Unlike heavy_hitters (whose raw Misra-Gries rows are partitioning-
# dependent and therefore rows-only), the CM sketch is a pure function
# of the multiset and the hash family — and the hash family here is
# the cross-engine md5-prefix, so DuckDB rebuilds the identical
# d x w counter table and the identical estimates: a FULL value oracle
# over real sketch output, not just a property bound. The exact top-20
# (the corpus groupBy) is the labeled check-scale baseline; the sketch
# itself is the 100 TB path (see operators/sketches.py).

CMS_WIDTH = 512
CMS_DEPTH = 4
CMS_TOPK = 20


def cms_topk_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch built from the VOCABULARY, not the occurrence stream
    (r18, guide §2.3 "aggregate before you shuffle"): this query
    already pays the full exact groupBy for its top-20 true-count
    baseline, so the same (tok, true_c) frame feeds the sketch via
    ``weight_col`` — each distinct token is md5-hashed depth times
    ONCE instead of once per occurrence (~24x fewer md5 calls at
    sf0.1: ~1.0M occurrences vs ~42K vocab), and the persisted frame
    shrinks from occurrences to vocab. Bit-identical by the CM merge
    property (sum of per-token counts per cell == occurrence count per
    cell); the DuckDB oracle still replays the occurrence form. A
    sketch-only pipeline with no exact baseline must keep the
    occurrence path (bounded shuffle state at 100 TB) — see
    count_min_sketch's weight_col note."""
    from ..caching import track
    from ..operators.sketches import cms_estimate, count_min_sketch
    from ..tables import spread_scan

    vocab = track(
        spread_scan(load(spark, sf_dir, "documents").select("text"))
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("true_c"))
        .persist()
    )
    sketch = count_min_sketch(vocab, "tok", CMS_WIDTH, CMS_DEPTH, weight_col="true_c")
    top = vocab.orderBy(F.desc("true_c"), F.asc("tok")).limit(CMS_TOPK)
    est = cms_estimate(sketch, top, "tok", CMS_WIDTH, CMS_DEPTH)
    return est.select(
        "tok",
        "true_c",
        "est_c",
        (F.col("est_c") - F.col("true_c")).cast("long").alias("overcount"),
    )


CMS_TOPK_ESTIMATES_ORACLE = f"""
WITH toks AS (
  SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
),
top AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS true_c FROM toks GROUP BY 1
  ORDER BY true_c DESC, tok ASC LIMIT {CMS_TOPK}
),
sketch AS (
  SELECT r, b, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT t.i AS r,
           ('0x' || substr(md5(tok || ':' || t.i), 1, 8))::BIGINT % {CMS_WIDTH} AS b
    FROM toks CROSS JOIN range(0, {CMS_DEPTH}) t(i)
  ) GROUP BY 1, 2
),
probes AS (
  SELECT top.tok, top.true_c, t.i,
         ('0x' || substr(md5(top.tok || ':' || t.i), 1, 8))::BIGINT % {CMS_WIDTH} AS b
  FROM top CROSS JOIN range(0, {CMS_DEPTH}) t(i)
),
est AS (
  SELECT p.tok, p.true_c,
         CAST(min(COALESCE(s.c, 0)) AS BIGINT) AS est_c
  FROM probes p
  LEFT JOIN sketch s ON s.r = p.i AND s.b = p.b
  GROUP BY 1, 2
)
SELECT tok, true_c, est_c, est_c - true_c AS overcount FROM est
"""

QUERIES.append(
    Query(
        "cms_topk_estimates",
        cms_topk_estimates,
        CMS_TOPK_ESTIMATES_ORACLE,
        "ext: Count-Min sketch, bit-identical cross-engine estimates",
    )
)


# --- tokenizer round-trip: learn merges, apply them, account tokens ---
#
# Rows-only like the trainer (the merge table is the fixpoint of an
# iterative argmax); verification is the crafted round-trip pytest
# (apply(learn(corpus)) must equal the pure-Python tokenizer on every
# word) plus the invariant tests below the operator.

def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-tokenize on one corpus: since r19 the fused
    composition reuses the trainer's final vocabulary state instead of
    re-deriving it through every merge layer (result-identical —
    pinned against the two-step composition in
    tests/test_textops_props.py::TestBpeTrainAndTokenize)."""
    from ..operators.text import bpe_train_and_tokenize

    docs = load(spark, sf_dir, "documents")
    return bpe_train_and_tokenize(docs, n_merges=BPE_TRAIN_ROUNDS)


QUERIES.append(
    Query(
        "bpe_tokenize_stats",
        bpe_tokenize_stats,
        None,
        "ext: apply learned BPE merges — per-doc token accounting",
    )
)


# --- KMV pair set algebra: shared shingle vocabulary across sources ---
#
# "How many word-3-gram shingles do sources A and B share" for every
# source pair, answered ENTIRELY from per-source KMV sketches
# (operators/sketches.py:kmv_pair_intersections — Beyer et al. SIGMOD
# 2007 set algebra): the estimator consumes only the k-row sketch
# frames, so at 100 TB the pair matrix costs O(k x pairs) regardless
# of corpus size — the sketch-native twin of the exact
# `source_overlap` matrix. The md5-prefix hash and fixed-point integer
# estimator make every estimate bit-identical in DuckDB, so this is a
# FULL value oracle over sketch output (the kmv_set_cardinality
# precedent; both paths share kmv_est_expr in-engine while the oracle
# keeps its own replay BY DESIGN). Shingle normalization is the dedup
# family's: lowercase, whitespace split, word 3-grams.

KMV_PAIR_K = 128


def kmv_pair_intersections_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles
    from ..operators.sketches import kmv_minima, kmv_pair_intersections

    docs = load(spark, sf_dir, "documents").select("source", "text")
    sh = shingles(docs, "source", n=3)
    minima = kmv_minima(sh, "source", "shingle", KMV_PAIR_K)
    return kmv_pair_intersections(minima, KMV_PAIR_K)


from ..operators.sketches import CMS_SPACE as _KMV_SPACE  # 2^32 hash space

KMV_PAIR_INTERSECTIONS_ORACLE = f"""
WITH toks AS (
  SELECT source AS s, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT s,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS v
  FROM toks
),
hashed AS (SELECT DISTINCT s, ('0x' || substr(md5(v), 1, 8))::BIGINT AS h FROM sh),
kept AS (
  SELECT s, h FROM (
    SELECT s, h, ROW_NUMBER() OVER (PARTITION BY s ORDER BY h) AS rn FROM hashed
  ) WHERE rn <= {KMV_PAIR_K}
),
per_set AS (SELECT s, count(*) AS n_kept, max(h) AS h_max FROM kept GROUP BY 1),
pairs AS (
  SELECT a.s AS t1, b.s AS t2,
         a.n_kept AS n_a, b.n_kept AS n_b,
         a.h_max AS hmax_a, b.h_max AS hmax_b,
         (a.n_kept < {KMV_PAIR_K} AND b.n_kept < {KMV_PAIR_K}) AS both_exact,
         least(CASE WHEN a.n_kept < {KMV_PAIR_K} THEN {_KMV_SPACE} ELSE a.h_max END,
               CASE WHEN b.n_kept < {KMV_PAIR_K} THEN {_KMV_SPACE} ELSE b.h_max END)
           AS theta
  FROM per_set a, per_set b WHERE a.s < b.s
),
memb AS (
  SELECT p.t1, p.t2, p.theta, k.h, 1 AS ia, 0 AS ib
  FROM pairs p JOIN kept k ON k.s = p.t1
  UNION ALL
  SELECT p.t1, p.t2, p.theta, k.h, 0 AS ia, 1 AS ib
  FROM pairs p JOIN kept k ON k.s = p.t2
),
sample AS (
  SELECT t1, t2, count(*) AS n_s,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
         CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS n_only_a,
         CAST(sum((1 - in_a) * in_b) AS BIGINT) AS n_only_b
  FROM (
    SELECT t1, t2, h, max(ia) AS in_a, max(ib) AS in_b, max(theta) AS theta
    FROM memb GROUP BY 1, 2, 3
  ) WHERE h <= theta GROUP BY 1, 2
),
est AS (
  SELECT p.*, s.n_s, s.n_both, s.n_only_a, s.n_only_b,
         CAST(CASE WHEN p.both_exact THEN s.n_s
              ELSE (s.n_s - 1) * {_KMV_SPACE} // p.theta END AS BIGINT) AS est_union
  FROM pairs p JOIN sample s ON s.t1 = p.t1 AND s.t2 = p.t2
)
SELECT t1 AS set_a, t2 AS set_b,
       CAST(CASE WHEN n_a < {KMV_PAIR_K} THEN n_a
            ELSE {KMV_PAIR_K - 1} * {_KMV_SPACE} // hmax_a END AS BIGINT) AS est_a,
       CAST(CASE WHEN n_b < {KMV_PAIR_K} THEN n_b
            ELSE {KMV_PAIR_K - 1} * {_KMV_SPACE} // hmax_b END AS BIGINT) AS est_b,
       est_union,
       CAST(CASE WHEN both_exact THEN n_both
            ELSE n_both * est_union // n_s END AS BIGINT) AS est_intersection,
       CAST(CASE WHEN both_exact THEN n_only_a
            ELSE n_only_a * est_union // n_s END AS BIGINT) AS est_a_minus_b,
       CAST(CASE WHEN both_exact THEN n_only_b
            ELSE n_only_b * est_union // n_s END AS BIGINT) AS est_b_minus_a
FROM est
"""

QUERIES.append(
    Query(
        "kmv_pair_intersections",
        kmv_pair_intersections_q,
        KMV_PAIR_INTERSECTIONS_ORACLE,
        "ext: KMV pair-intersection set algebra over source shingle vocabularies",
    )
)


# --- winnowing fingerprints (r16) -----------------------------------
# The MOSS selection rule (Schleimer/Wilkerson/Aiken, SIGMOD 2003) over
# 4-token shingles and 8-hash windows; the oracle below hardcodes those
# widths, so pin them against the operator's defaults.
from ..operators.text import WINNOW_K, WINNOW_W, winnow_fingerprints  # noqa: E402

assert (WINNOW_K, WINNOW_W) == (4, 8), "oracle SQL hardcodes k=4, w=8"


def doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct winnowing-selected (position, 40-bit hash) fingerprints
    per document — the content-defined shingle sub-sample whose
    equality join catches every verbatim token overlap of length
    >= w + k - 1 = 11 while shipping ~2/(w+1) of the shingle hashes.
    Zero-shuffle per-row array pipeline; see
    operators/text.py:winnow_fingerprints."""
    return winnow_fingerprints(load(spark, sf_dir, "documents"))


# The k=4/w=8 winnowing fingerprint pipeline as DuckDB CTEs — ONE
# encoding of the hash width / position packing / window slicing,
# shared by all three winnowing oracles below so the math can never
# drift apart between them (r17 review finding).
_WINNOW_HS_CTES = """toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents
),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 3, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS sh
  FROM toks
),
hs AS (
  SELECT doc_id,
         list_transform(range(1, len(sh) + 1),
                        i -> ('0x' || substr(md5(sh[i]), 1, 10))::BIGINT * 1048576
                             + (1048575 - (i - 1))) AS hs
  FROM sh
)"""

# ... and the per-doc distinct HASH projection of the selected
# fingerprints (positions dropped) the pair/decontamination consumers
# both join on.
_WINNOW_FPS_HASH_CTE = """fps AS (
  SELECT DISTINCT doc_id, fp // 1048576 AS fp_hash
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             range(1, greatest(len(hs) - 7, 1) + 1),
             s -> list_aggregate(hs[s:s+7], 'min')))) AS fp
    FROM hs WHERE len(hs) > 0
  )
)"""

# ... and the position-bearing half — selected fingerprints unpacked
# to (pos, hash), train-side positions matched against the eval-side
# hash set, merged into islands at the 11-token (w + k - 1) guarantee
# gap. ONE encoding shared by the spans and trim oracles (r17 review
# finding: the chain had been re-inlined in both, re-opening the
# drift the _WINNOW_HS_CTES extraction closed).
_WINNOW_ISL_CTES = """fpp AS (
  SELECT doc_id,
         1048575 - (fp % 1048576) AS fp_pos,
         fp // 1048576 AS fp_hash
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             range(1, greatest(len(hs) - 7, 1) + 1),
             s -> list_aggregate(hs[s:s+7], 'min')))) AS fp
    FROM hs WHERE len(hs) > 0
  )
),
matched AS (
  SELECT DISTINCT doc_id, fp_pos FROM fpp
  WHERE doc_id % {mod} <> 0
    AND fp_hash IN (SELECT fp_hash FROM fpp WHERE doc_id % {mod} = 0)
),
gaps AS (
  SELECT doc_id, fp_pos,
         CASE WHEN fp_pos - lag(fp_pos)
                     OVER (PARTITION BY doc_id ORDER BY fp_pos) > 11
              THEN 1 ELSE 0 END AS brk
  FROM matched
),
isl AS (
  SELECT doc_id, fp_pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY fp_pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM gaps
)"""

WINNOW_FINGERPRINT_ORACLE = f"""
WITH {_WINNOW_HS_CTES},
fps AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - 7, 1) + 1),
           s -> list_aggregate(hs[s:s+7], 'min'))) AS fps
  FROM hs WHERE len(hs) > 0
)
SELECT doc_id,
       1048575 - (fp % 1048576) AS fp_pos,
       fp // 1048576 AS fp_hash
FROM (SELECT doc_id, unnest(fps) AS fp FROM fps)
"""

QUERIES.append(
    Query(
        "doc_winnow_fingerprint",
        doc_winnow_fingerprint,
        WINNOW_FINGERPRINT_ORACLE,
        "ext: winnowing fingerprints (MOSS selection rule, SIGMOD 2003)",
    )
)


from ..operators.text import (  # noqa: E402
    WINNOW_HASH_STOP_DF,
    WINNOW_MIN_SHARED,
    winnow_overlap_pairs,
)


def winnow_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate overlap pairs by shared winnowing fingerprints — the
    detector built on doc_winnow_fingerprint's sub-sample: same
    bucket-pairing plan as the containment/Jaccard family over ~4.5x
    fewer bucketed items, with the w+k-1-token overlap guarantee."""
    return winnow_overlap_pairs(load(spark, sf_dir, "documents"))


WINNOW_OVERLAP_ORACLE = f"""
WITH {_WINNOW_HS_CTES},
{_WINNOW_FPS_HASH_CTE},
sizes AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY 1),
rare AS (
  SELECT doc_id, fp_hash FROM fps
  WHERE fp_hash IN (
    SELECT fp_hash FROM fps GROUP BY 1
    HAVING count(*) BETWEEN 2 AND {WINNOW_HASH_STOP_DF}
  )
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM rare a JOIN rare b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT id_a, id_b, n_shared, sa.n_fp AS fp_a, sb.n_fp AS fp_b,
       floor(n_shared * 1.0 / least(sa.n_fp, sb.n_fp) * 1000000 + 0.5) / 1000000
         AS overlap
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
"""

QUERIES.append(
    Query(
        "winnow_overlap_pairs",
        winnow_overlap_pairs_q,
        WINNOW_OVERLAP_ORACLE,
        "ext: overlap candidate pairs by shared winnowing fingerprints",
    )
)


from ..operators.text import winnow_decontaminate  # noqa: E402


def winnow_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-eval decontamination on the winnowed sub-sample, the
    incremental consumer of the winnow fingerprints — every 97th
    document plays the held-out benchmark (the decontaminate split),
    the rest the training batch; contaminated train docs surface with
    per-doc evidence under the w + k - 1 = 11-token guarantee. The
    registered row runs the inline-index path; the stored-index path
    is pinned row-identical by
    tests/test_textops_props.py::test_winnow_decontaminate_stored_index_matches_inline."""
    docs = load(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0
    return winnow_decontaminate(docs.filter(~is_eval), docs.filter(is_eval))


WINNOW_DECON_ORACLE = f"""
WITH {_WINNOW_HS_CTES},
{_WINNOW_FPS_HASH_CTE},
t AS (SELECT doc_id, fp_hash FROM fps WHERE doc_id % {DECON_MOD} <> 0),
e AS (SELECT doc_id AS eval_id, fp_hash FROM fps WHERE doc_id % {DECON_MOD} = 0),
pair AS (
  SELECT t.doc_id, e.eval_id, count(*) AS n_shared
  FROM t JOIN e USING (fp_hash) GROUP BY 1, 2
),
shared AS (
  SELECT doc_id, count(DISTINCT fp_hash) AS n_shared_fp
  FROM t JOIN e USING (fp_hash) GROUP BY 1
),
best AS (
  SELECT doc_id, CAST(n_docs AS BIGINT) AS n_eval_docs,
         eval_id AS best_eval_id, n_shared AS best_shared
  FROM (
    SELECT *, count(*) OVER (PARTITION BY doc_id) AS n_docs,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n_shared DESC, eval_id ASC) AS rn
    FROM pair
  ) WHERE rn = 1
)
SELECT doc_id, CAST(n_shared_fp AS BIGINT) AS n_shared_fp,
       n_eval_docs, best_eval_id, CAST(best_shared AS BIGINT) AS best_shared
FROM shared JOIN best USING (doc_id)
"""

QUERIES.append(
    Query(
        "winnow_decontaminate",
        winnow_decontaminate_q,
        WINNOW_DECON_ORACLE,
        "ext: train/eval decontamination on winnowing fingerprints (w+k-1 guarantee)",
    )
)


DECON_MOD2 = 89  # the second synthetic benchmark's id split


def winnow_decontaminate_multi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-benchmark decontamination (r18): every 97th doc plays
    benchmark b0, every 89th benchmark b1 (a doc divisible by both
    belongs to both — real benchmark suites overlap), the rest the
    training batch; ONE train-side fingerprint pass attributes hits
    per benchmark. Restricting the index to one bench reproduces the
    single detector row-for-row (pytest-pinned)."""
    from ..operators.text import winnow_decontaminate_multi, winnow_eval_index

    docs = load(spark, sf_dir, "documents")
    is0 = F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0
    is1 = F.pmod(F.col("doc_id"), F.lit(DECON_MOD2)) == 0
    idx = (
        winnow_eval_index(docs.filter(is0))
        .withColumn("bench_id", F.lit("b0"))
        .unionByName(
            winnow_eval_index(docs.filter(is1)).withColumn("bench_id", F.lit("b1"))
        )
    )
    return winnow_decontaminate_multi(docs.filter(~is0 & ~is1), idx)


WINNOW_DECON_MULTI_ORACLE = f"""
WITH {_WINNOW_HS_CTES},
{_WINNOW_FPS_HASH_CTE},
t AS (
  SELECT doc_id, fp_hash FROM fps
  WHERE doc_id % {DECON_MOD} <> 0 AND doc_id % {DECON_MOD2} <> 0
),
e AS (
  SELECT 'b0' AS bench_id, doc_id AS eval_id, fp_hash FROM fps
  WHERE doc_id % {DECON_MOD} = 0
  UNION ALL
  SELECT 'b1', doc_id, fp_hash FROM fps WHERE doc_id % {DECON_MOD2} = 0
),
pair AS (
  SELECT t.doc_id, e.bench_id, e.eval_id, count(*) AS n_shared
  FROM t JOIN e USING (fp_hash) GROUP BY 1, 2, 3
),
shared AS (
  SELECT t.doc_id, e.bench_id, count(DISTINCT fp_hash) AS n_shared_fp
  FROM t JOIN e USING (fp_hash) GROUP BY 1, 2
),
best AS (
  SELECT doc_id, bench_id, CAST(n_docs AS BIGINT) AS n_eval_docs,
         eval_id AS best_eval_id, n_shared AS best_shared
  FROM (
    SELECT *, count(*) OVER (PARTITION BY doc_id, bench_id) AS n_docs,
           row_number() OVER (PARTITION BY doc_id, bench_id
                              ORDER BY n_shared DESC, eval_id ASC) AS rn
    FROM pair
  ) WHERE rn = 1
)
SELECT doc_id, bench_id, CAST(n_shared_fp AS BIGINT) AS n_shared_fp,
       n_eval_docs, best_eval_id, CAST(best_shared AS BIGINT) AS best_shared
FROM shared JOIN best USING (doc_id, bench_id)
"""

QUERIES.append(
    Query(
        "winnow_decontaminate_multi",
        winnow_decontaminate_multi_q,
        WINNOW_DECON_MULTI_ORACLE,
        "ext: one-pass multi-benchmark decontamination with per-benchmark attribution",
    )
)


from ..operators.text import winnow_contaminated_spans  # noqa: E402


def winnow_contaminated_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the leak is (r17): matched fingerprint positions of every
    contaminated train doc merged into excisable token spans (islands
    at the w + k - 1 = 11 guarantee gap) — the surgical consumer of
    winnow_decontaminate, over the same every-97th-doc eval split."""
    docs = load(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0
    return winnow_contaminated_spans(docs.filter(~is_eval), docs.filter(is_eval))


WINNOW_SPANS_ORACLE = f"""
WITH {_WINNOW_HS_CTES},
{_WINNOW_ISL_CTES.format(mod=DECON_MOD)}
SELECT doc_id,
       CAST(min(fp_pos) AS BIGINT) AS span_start,
       CAST(max(fp_pos) + 3 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_fps
FROM isl GROUP BY doc_id, island
"""

QUERIES.append(
    Query(
        "winnow_contaminated_spans",
        winnow_contaminated_spans_q,
        WINNOW_SPANS_ORACLE,
        "ext: excisable leaked-span localization on winnowing fingerprints",
    )
)


from ..operators.text import winnow_decontaminate_trim  # noqa: E402


def winnow_decontaminate_trim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCISE the leak (r17): the releasable corpus — every train doc
    with its contaminated spans (padded by w - 1, the
    guaranteed-superset bound proven in the operator docstring)
    removed; clean docs pass through token-rejoined. Same
    every-97th-doc eval split as the detector rows."""
    docs = load(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0
    return winnow_decontaminate_trim(docs.filter(~is_eval), docs.filter(is_eval))


WINNOW_TRIM_ORACLE = f"""
WITH {_WINNOW_HS_CTES},
{_WINNOW_ISL_CTES.format(mod=DECON_MOD)},
padded AS (
  SELECT doc_id,
         greatest(min(fp_pos) - 7, 0) AS s,
         max(fp_pos) + 3 + 7 AS e
  FROM isl GROUP BY doc_id, island
),
toks_raw AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
  WHERE doc_id % {DECON_MOD} <> 0
),
tok_pos AS (
  SELECT doc_id, unnest(ws) AS tok,
         generate_subscripts(ws, 1) - 1 AS pos,
         len(ws) AS total
  FROM toks_raw
),
kept AS (
  SELECT t.doc_id, t.tok, t.pos, t.total FROM tok_pos t
  WHERE NOT EXISTS (
    SELECT 1 FROM padded p
    WHERE p.doc_id = t.doc_id AND t.pos BETWEEN p.s AND p.e
  )
)
SELECT r.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(len(r.ws) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
FROM toks_raw r
LEFT JOIN (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
) k USING (doc_id)
"""

QUERIES.append(
    Query(
        "winnow_decontaminate_trim",
        winnow_decontaminate_trim_q,
        WINNOW_TRIM_ORACLE,
        "ext: leaked-span excision (releasable corpus, guaranteed-superset pad)",
    )
)


BLOCK_SHUFFLE_BLOCKS = 64


def block_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level reproducible epoch shuffle (extension): hash block
    assignment + in-block md5 order — ONE exchange where the global
    permutation (corpus_shuffle) needs a boundary-sampling pass plus a
    range repartition; the trade a 100 TB data loader makes."""
    from ..operators.sampling import block_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return block_shuffle(docs, "doc_id", seed=SHUFFLE_SEED, n_blocks=BLOCK_SHUFFLE_BLOCKS)


BLOCK_SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         ('0x' || substr(md5('b|{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % {BLOCK_SHUFFLE_BLOCKS} AS block_id,
         md5('{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)) || '|'
           || lpad(CAST(doc_id AS VARCHAR), 20, '0') AS k
  FROM documents
)
SELECT doc_id, block_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY block_id ORDER BY k) - 1 AS BIGINT)
         AS block_pos
FROM keyed
"""

QUERIES.append(
    Query(
        "block_shuffle",
        block_shuffle_q,
        BLOCK_SHUFFLE_ORACLE,
        "ext: two-level reproducible epoch shuffle (block assignment + in-block order)",
    )
)


# --- deterministic weighted source interleave (r18) -------------------

INTERLEAVE_WEIGHTS = {"src0": 3, "src1": 2}  # the rest default to 1
INTERLEAVE_SCALE = 1_000_000_000
INTERLEAVE_SHARD = 100


def source_interleave_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-scheduled training order (r18): every doc exactly once,
    sources interleaved at 3:2:1... ratios by integer virtual time —
    the loader-side complement of mixture_resample (which reweights by
    sampling; this reweights only the ORDER). src0/src1 carry the
    non-default weights, and the corpus's src1/src10 prefix pair
    exercises the composite-key tie spec the operator documents."""
    from ..operators.sampling import source_interleave

    return source_interleave(
        load(spark, sf_dir, "documents"),
        weights=INTERLEAVE_WEIGHTS,
        seed=SHUFFLE_SEED,
        shard_size=INTERLEAVE_SHARD,
        scale=INTERLEAVE_SCALE,
    )


SOURCE_INTERLEAVE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, coalesce(source, '') AS source,
         md5('{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)) || '|'
           || lpad(CAST(doc_id AS VARCHAR), 20, '0') AS ok
  FROM documents
),
rn AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY ok) AS BIGINT)
           AS src_rn
  FROM keyed
),
vt AS (
  SELECT doc_id, source, src_rn,
         (src_rn * {INTERLEAVE_SCALE}) //
           (CASE source {" ".join(f"WHEN '{s}' THEN {w}" for s, w in sorted(INTERLEAVE_WEIGHTS.items()))} ELSE 1 END) AS vtime
  FROM rn
),
pos AS (
  SELECT doc_id, source, src_rn,
         CAST(ROW_NUMBER() OVER (
           ORDER BY lpad(CAST(vtime AS VARCHAR), 20, '0') || '|' || source
                    || '|' || lpad(CAST(doc_id AS VARCHAR), 20, '0')
         ) - 1 AS BIGINT) AS position
  FROM vt
)
SELECT doc_id, source, src_rn, position,
       CAST(position // {INTERLEAVE_SHARD} AS BIGINT) AS shard_id
FROM pos
"""

QUERIES.append(
    Query(
        "source_interleave",
        source_interleave_q,
        SOURCE_INTERLEAVE_ORACLE,
        "ext: stride-scheduled deterministic weighted source interleave",
    )
)
