"""Text-analysis operators (engine extension: training-data pipeline).

Everything is built-in-function SQL (JVM, codegen) — no UDFs: language
ID is a marker-token heuristic, quality scoring is length/ratio
features, token counting is a BPE-ish regex, fingerprinting is md5
over a normalized body. These run as one projection over the scan, so
they are bandwidth-bound at 100 TB (no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import local_frame

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
# (space spelled literally in the class — avoids backslash-escape
# divergence between Spark SQL and DuckDB string literals)
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# Marker stopwords per language for the n-gram/stopword heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
    "de": ("der", "die", "das", "und"),
}


def token_stats(df: DataFrame) -> DataFrame:
    """Token/char counts + quality features per document."""
    toks = F.split(F.lower(F.col("text")), r"\s+")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    avg_tok = F.round((n_chars - (n_tokens - 1)) / n_tokens, 4)
    n_distinct = F.size(F.array_distinct(toks))
    return df.select(
        F.col("doc_id"),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_calc"),
        avg_tok.alias("avg_token_len"),
        F.round(n_distinct / n_tokens, 4).alias("distinct_ratio"),
    )


def quality_expr() -> Column:
    """Quality score in [0,1] as a single expression (composable into
    one-pass pipelines). Terms stay unrounded until the final round so
    the result never lands exactly on a decimal half-point (where
    engines' round() semantics diverge)."""
    toks = F.split(F.lower(F.col("text")), r"\s+")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens
    length_term = F.least(n_tokens / F.lit(200.0), F.lit(1.0))
    return F.round(0.5 * length_term + 0.5 * distinct_ratio, 4)


def quality_score(df: DataFrame) -> DataFrame:
    """Deterministic quality score in [0,1]: rewards mid-length docs
    and lexical diversity (the usual cheap pre-filters before expensive
    model-based scoring)."""
    return df.select(F.col("doc_id"), quality_expr().alias("quality_score"))


def quality_threshold_sweep(
    df: DataFrame, steps: int = 10
) -> DataFrame:
    """Pass-rate curve for the quality filter: for every threshold t in
    {0, 1/steps, …, 1}, the docs and whitespace-tokens that survive
    ``quality_score >= t``, as counts and corpus fractions — the
    diagnostic run BEFORE committing to a filter cutoff (how much of
    the token budget does each candidate threshold cost?).

    Scale (100 TB): each source row is touched exactly once — a narrow
    (bucket, n_tokens) projection feeds an integer-bucket histogram
    (one map-side-combined shuffle into ≤ steps+1 groups); the
    suffix-cumulative pass counts and the totals are windows over that
    (steps+1)-row frame (one SinglePartition exchange of steps+1
    rows). The naive alternative (cross-join the grid, aggregate per
    threshold) multiplies the aggregation input by steps+1.

    Bucket boundaries vs the oracle's double comparison: the score is
    rounded to 4 dp, so ``round(q*10^4)`` is an exact integer q4 and
    ``q >= i/steps  ⟺  q4 >= 10^4·i/steps`` whenever 10^4 is a
    multiple of steps — the integer floor-bucketing below reproduces
    the double ``>=`` exactly (steps must divide 10^4)."""
    from pyspark.sql.window import Window

    if 10000 % steps:
        raise ValueError(f"steps must divide 10^4, got {steps}")
    width = 10000 // steps
    toks = F.split(F.lower(F.col("text")), r"\s+")
    scored = df.select(
        F.floor(F.round(quality_expr() * 10000, 0) / width).cast("int").alias("bucket"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    hist = scored.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("n_tokens").alias("nt")
    )
    spark = df.sparkSession
    grid = spark.range(0, steps + 1).select(F.col("id").cast("int").alias("gi"))
    filled = grid.join(hist, grid.gi == hist.bucket, "left").select(
        "gi", F.coalesce("nd", F.lit(0)).alias("nd"), F.coalesce("nt", F.lit(0)).alias("nt")
    )
    # suffix sums over the tiny grid frame: pass(t) = Σ buckets ≥ t.
    # SinglePartition window is fine — the frame is steps+1 rows.
    w_sfx = Window.orderBy(F.col("gi").desc()).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("gi").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # floor-based round-half-up on the fractions (doc fraction k/N can
    # land exactly on a decimal half-point; same convention as
    # source_overlap_matrix)
    return (
        filled.select(
            "gi",
            F.sum("nd").over(w_sfx).alias("n_docs_pass"),
            F.sum("nt").over(w_sfx).alias("n_tokens_pass"),
            F.sum("nd").over(w_all).alias("_td"),
            F.sum("nt").over(w_all).alias("_tt"),
        )
        .select(
            (F.col("gi").cast("double") / steps).alias("threshold"),
            F.col("n_docs_pass").cast("long").alias("n_docs_pass"),
            F.expr("floor(n_docs_pass / _td * 1000000 + 0.5) / 1000000").alias("frac_docs"),
            F.col("n_tokens_pass").cast("long").alias("n_tokens_pass"),
            F.expr("floor(n_tokens_pass / _tt * 1000000 + 0.5) / 1000000").alias(
                "frac_tokens"
            ),
        )
    )


def pred_lang_expr() -> Column:
    """Stopword-marker language ID as a single expression: argmax of
    marker-token frequency, deterministic tie-break on language code,
    'und' when nothing matches."""
    def score(lang: str) -> Column:
        in_list = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        return F.expr(
            f"size(filter(split(lower(text), '\\\\s+'), t -> t IN ({in_list})))"
        )

    scores = {lang: score(lang) for lang in sorted(LANG_MARKERS)}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return pred


def language_id(df: DataFrame) -> DataFrame:
    return df.select(F.col("doc_id"), pred_lang_expr().alias("pred_lang"))


def bpe_count_expr() -> Column:
    """Regex pre-tokenizer count — the cheap token-budget estimator."""
    return F.size(F.expr(f"regexp_extract_all(lower(text), '{TOKEN_REGEX}', 0)"))


def token_count_bpe(df: DataFrame) -> DataFrame:
    return df.select(F.col("doc_id"), bpe_count_expr().alias("n_bpe_tokens"))


# PII patterns kept to syntax that behaves identically under Java
# regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
PII_URL = "https?://[^ ]+"
PII_DIGIT_RUN = "[0-9]{6,}"


def pii_scan(df: DataFrame) -> DataFrame:
    """Per-document PII surface counts (emails, URLs, long digit runs
    — the cheap pre-redaction scan every training-data pipeline runs
    before release). Pure single projection, no shuffle; the same
    regexes drive :func:`redact_pii`."""
    def n(pat: str) -> Column:
        return F.size(F.expr(f"regexp_extract_all(lower(text), '{pat}', 0)"))

    n_emails, n_urls, n_digits = n(PII_EMAIL), n(PII_URL), n(PII_DIGIT_RUN)
    return df.select(
        F.col("doc_id"),
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        n_digits.alias("n_digit_runs"),
        ((n_emails + n_urls + n_digits) > 0).cast("int").alias("has_pii"),
    )


def redact_pii(df: DataFrame) -> DataFrame:
    """Replace PII spans with typed placeholder tokens — the
    release-time counterpart of :func:`pii_scan`, same narrow
    projection shape."""
    red = F.col("text")
    for pat, tag in ((PII_EMAIL, "<EMAIL>"), (PII_URL, "<URL>"), (PII_DIGIT_RUN, "<NUM>")):
        red = F.regexp_replace(red, f"(?i){pat}", tag)
    return df.select(F.col("doc_id"), red.alias("redacted_text"))


def contamination_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many
    distinct word n-grams it shares with the benchmark set (the
    standard contamination signal before training; docs over a
    threshold get dropped). Returns (id, n_overlap) for docs with any
    overlap.

    Scale design: the benchmark's distinct shingles are tiny relative
    to the corpus (benchmarks are MBs, corpora are TBs) — broadcast
    them; the corpus side is one explode + broadcast-semi-join +
    re-aggregate on the id, a single shuffle of (id, 1) pairs. The
    corpus never self-joins."""
    from .dedup import shingles

    doc_sh = shingles(docs, "doc_id", n)
    bench_sh = shingles(benchmark, "doc_id", n).select("shingle").distinct()
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def chunk_documents(
    df: DataFrame,
    chunk: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping token windows (`chunk`
    tokens every `stride`) — the standard context-window chunking step
    before embedding or packing long documents. Tokens are the BPE-ish
    regex pre-tokenizer so the chunk boundary is the same budget unit
    the rest of the pipeline uses.

    Chunk starts are 0, stride, 2·stride, … while start < n_tokens, so
    a doc always yields ceil(n/stride) chunks and trailing chunks may
    be short — deterministic and engine-agnostic. A zero-token document
    (empty / punctuation-free text) yields zero chunks: `sequence(0,
    size-1, stride)` would raise "Illegal sequence boundaries" on
    size=0, so the start list is guarded to `array()` — matching
    DuckDB's empty `range(0, 0, stride)`.

    Scale shape: one narrow projection + explode; no shuffle. The
    explode multiplies rows ~n/stride× but each output row carries only
    the chunk slice, never the full body, so the post-chunk stage
    (embedding, dedup) sees bounded-size rows.
    """
    toks = F.expr(f"regexp_extract_all(lower(text), '{TOKEN_REGEX}', 0)")
    return (
        df.select(F.col("doc_id"), toks.alias("_toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "CASE WHEN size(_toks) = 0 THEN array() "
                    f"ELSE sequence(0, size(_toks) - 1, {stride}) END"
                )
            ).alias("chunk_id", "_start"),
            "_toks",
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.expr(f"size(slice(_toks, _start + 1, {chunk}))").alias("n_chunk_tokens"),
            F.expr(f"array_join(slice(_toks, _start + 1, {chunk}), ' ')").alias("chunk_text"),
        )
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of tokens
    belonging to the most-frequent unigram / bigram, and the duplicate-
    token fraction. High values flag boilerplate / degenerate text that
    length and lexical-diversity scores miss.

    Implementation note: max-multiplicity is computed with array
    lambdas (distinct × filter), O(distinct·n) per doc with ZERO
    shuffle — right for web-scale corpora of short/medium docs. For
    book-length documents prefer an explode + two-level groupBy (one
    shuffle) instead of the quadratic per-row scan.
    """
    ws = F.split(F.lower(F.col("text")), r"\s+")
    d = df.select(F.col("doc_id"), ws.alias("ws"))
    # Guard the single-token doc: sequence(0, -1) is the DESCENDING
    # array [0, -1], so ws[i+1] would throw INVALID_ARRAY_INDEX under
    # ANSI mode. Empty bigram list matches DuckDB's range(1, 1) = [].
    big = F.expr(
        "CASE WHEN size(ws) >= 2 THEN"
        " transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"
        " ELSE array() END"
    )
    d = d.select("doc_id", "ws", big.alias("bg"))

    def top_frac(arr: str) -> Column:
        # nullif guards the 1-token doc (empty bigram list): NULL frac
        # on both engines instead of an ANSI divide-by-zero error.
        # floor-based round-half-up: k/n ratios land exactly on decimal
        # half-points (e.g. 1/32), where engines' round() diverge.
        return F.expr(
            f"floor(array_max(transform(array_distinct({arr}),"
            f" d -> size(filter({arr}, t -> t = d))))"
            f" / nullif(size({arr}), 0) * 10000 + 0.5) / 10000"
        )

    return d.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        top_frac("ws").alias("top_unigram_frac"),
        top_frac("bg").alias("top_bigram_frac"),
        F.expr(
            "floor((1 - size(array_distinct(ws)) / size(ws)) * 10000 + 0.5) / 10000"
        ).alias("dup_token_frac"),
    )


def unigram_lm(df: DataFrame) -> DataFrame:
    """Corpus unigram language model: ``(token, n_occ, logp)`` with
    ``logp = ln(n_occ / total_tokens)`` — the model behind the
    perplexity-proxy quality filter (CCNet-style: score each document
    under a reference LM and drop the tails). Tokens are the shared
    whitespace normalization every text operator here uses.

    Scale design (100 TB): one explode + one map-side-combined groupBy
    — the only shuffle moves (token, partial-count) pairs. The total
    is a 1-row aggregate broadcast back onto the counts; the LM itself
    is vocab-sized (Zipf-bounded: ~millions of types for a TB-scale
    corpus, tens of MB), which is what makes the downstream scoring
    join broadcastable."""
    toks = df.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_occ"))
    total = counts.agg(F.sum("n_occ").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "token",
        "n_occ",
        F.log(F.col("n_occ") / F.col("_total")).alias("logp"),
    )


def unigram_logprob(
    df: DataFrame,
    lm: DataFrame | None = None,
    oov_logp: float | None = None,
) -> DataFrame:
    """Per-document average negative log-probability under a unigram
    LM — the cheap perplexity proxy (high = rare/garbled vocabulary,
    low = repetitive/boilerplate; both tails are filter candidates).
    Output ``(id, n_tokens, avg_neg_logprob)``.

    With ``lm=None`` the model is fit on ``df`` itself (self-scoring:
    every token is in-vocabulary by construction, so the join is
    inner). Passing a reference ``lm`` (e.g. fit on a trusted corpus
    via :func:`unigram_lm`) requires ``oov_logp``, the floor log-prob
    charged to out-of-vocabulary tokens — scored via left join +
    coalesce so OOV tokens penalize rather than silently vanish.

    Scale design: tokens explode off the scan and broadcast-join the
    vocab-sized LM (drop the hint if a pathological vocab outgrows the
    broadcast ceiling — AQE falls back), then ONE map-side-combined
    shuffle of (id, partial sum/count) pairs. Document text never
    shuffles."""
    if lm is None:
        lm = unigram_lm(df)
    elif oov_logp is None:
        raise ValueError("scoring under an external lm requires oov_logp (OOV floor)")
    toks = df.select(
        F.col("doc_id"), F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    )
    lm_side = F.broadcast(lm.select("token", "logp"))
    if oov_logp is None:
        joined = toks.join(lm_side, "token")
        lp = F.col("logp")
    else:
        joined = toks.join(lm_side, "token", "left")
        lp = F.coalesce(F.col("logp"), F.lit(float(oov_logp)))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(-F.avg(lp), 4).alias("avg_neg_logprob"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """64-bit-hex content fingerprint over the whitespace-normalized
    lowercased body — stable across engines (md5)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return df.select(
        F.col("doc_id"),
        F.substring(F.md5(norm), 1, 16).alias("fingerprint"),
    )


#: Winnowing defaults: 4-token k-grams, 8-hash windows — guarantee
#: threshold t = w + k - 1 = 11 shared tokens, expected density
#: 2/(w+1) ≈ 0.22 fingerprints per token (Schleimer et al. §4).
WINNOW_K = 4
WINNOW_W = 8
#: Position packing radix: positions are exact for docs up to 2^20
#: tokens; longer docs must be pre-chunked (doc_chunk) — a 100 TB
#: pipeline chunks long documents far below a million tokens anyway.
_WINNOW_P = 1 << 20


def winnow_fingerprints(
    df: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS selection rule): hash every k-token shingle, slide
    a w-hash window, keep the MINIMUM hash per window breaking ties to
    the RIGHTMOST position, and emit each document's distinct selected
    ``(fp_pos, fp_hash)`` pairs.

    Why it earns a place next to :func:`fingerprint` (whole-doc hash)
    and the shingle/MinHash family: winnowing is the CONTENT-DEFINED
    sub-sampling used when shipping every shingle is too heavy — the
    paper's guarantee says any verbatim token run of length
    >= w + k - 1 shared by two documents contributes at least one
    IDENTICAL selected fingerprint to both, so an equality join on
    ``fp_hash`` catches every sufficiently long overlap while moving
    only ~2/(w+1) hashes per token.

    Scale shape: ZERO shuffle — tokenize, shingle, hash, window-min
    and per-doc dedup all run inside per-row array expressions (pure
    whole-stage codegen over one pushed 2-column scan); the final
    explode is narrow. Cross-engine determinism: the shingle hash is
    the first 10 hex chars of md5 (40 bits — 40+20 packed bits stay
    inside a signed 64-bit long; the repo's DuckDB-replayable idiom) packed with the position into one BIGINT —
    ``hash * 2^20 + (2^20 - 1 - pos)`` — so "min hash, rightmost
    position" is a single integer ``array_min``; see ``_WINNOW_P`` for
    the position bound — exceeding it raises at run time via a guard
    branch (silent fingerprint corruption is worse than a failed job;
    pre-chunk with doc_chunk). Documents with fewer than k tokens emit no
    rows; with 1..w shingles they emit exactly one fingerprint (the
    single all-covering window).

    LAMBDA-BINDING RULE (found on the scaling curve): a column
    referenced inside a higher-order-function lambda BODY is re-
    evaluated on every lambda call once projection collapse inlines
    its defining expression — ``transform(sequence(1, size(hs) - 7),
    s -> array_min(slice(hs, s, 8)))`` recomputed the ENTIRE md5 hash
    array per window start, turning the per-doc cost quadratic in
    document length (223 s at sf0.1; invisible at pytest fixture
    scale, caught by tools/stress.py --curve). Every stage below
    therefore binds its input array as a lambda ARGUMENT via the
    single-element-array idiom ``flatten(transform(array(x), t ->
    ...))`` — a variable lookup per call instead of an expression
    re-evaluation — 144x faster (1.55 s at sf0.1) for identical
    output. Only a HOF's direct input is evaluated once per row;
    anything else a lambda closes over must be bound this way.
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints: k={k} and w={w} must be >= 1")
    # layout spread BEFORE the per-row md5/window-min pipeline: on an
    # unsplittable single-file input the whole fingerprint computation
    # otherwise runs inside the one-task scan stage (one core); on a
    # many-file corpus spread_scan is a structural no-op (guide §2.5).
    # The two-column projection happens first so the exchange moves
    # only (id, text), never sibling columns.
    from ..tables import spread_scan

    d = spread_scan(df.select(F.col("doc_id"), F.col("text"))).select(
        F.col("doc_id"), F.split(F.lower(F.col("text")), r"\s+").alias("ws")
    )
    # k-gram shingles; the CASE guards the descending-sequence trap
    # (sequence(1, 0) is [1, 0]) exactly like _shingle_expr in dedup,
    # and `t` binds the token array once per row (lambda-binding rule)
    d = d.select(
        "doc_id",
        F.expr(
            f"flatten(transform(array(ws), t -> "
            f"CASE WHEN t IS NULL OR size(t) < {k} THEN array() "
            # loud bound guard: past 2^20 shingles the packed position
            # complement goes negative and borrows from the hash field,
            # silently corrupting fingerprints and inverting tie-breaks
            # — fail the job instead (the k/w ValueError's row-level twin)
            f"WHEN size(t) - {k - 1} > {_WINNOW_P} THEN "
            f"raise_error(concat('winnow_fingerprints: document with ', "
            f"cast(size(t) as string), ' tokens exceeds the 2^20 position "
            f"bound - pre-chunk long documents (doc_chunk) first')) "
            f"ELSE transform(sequence(1, size(t) - {k - 1}), "
            f"i -> concat_ws(' ', slice(t, i, {k}))) END))"
        ).alias("sh"),
    )
    # packed (hash, rightmost-wins position) per shingle; transform's
    # index is 0-based and `sh` is the HOF's direct input (one eval)
    d = d.select(
        "doc_id",
        F.expr(
            f"transform(sh, (s, i) -> "
            f"cast(conv(substr(md5(s), 1, 10), 16, 10) AS bigint) * {_WINNOW_P} "
            f"+ ({_WINNOW_P - 1} - i))"
        ).alias("hs"),
    )
    # per-window minima over full windows (one all-covering window when
    # 0 < |hs| <= w), deduplicated per doc before the explode; `h`
    # binds the hash array once per row (lambda-binding rule)
    d = d.select(
        "doc_id",
        F.expr(
            f"flatten(transform(array(hs), h -> "
            f"CASE WHEN size(h) = 0 THEN array() "
            f"ELSE array_distinct(transform("
            f"sequence(1, greatest(size(h) - {w - 1}, 1)), "
            f"s -> array_min(slice(h, s, {w})))) END))"
        ).alias("fps"),
    )
    # explode_OUTER + null filter instead of a plain explode: a
    # non-outer Generate lets InferFiltersFromGenerate add a
    # `size(fps) > 0` predicate whose projection-collapsed form inlines
    # the ENTIRE fingerprint expression (split + md5 + window-min HOFs)
    # — the optimizer then pushes that filter below the spread
    # exchange, so the pipeline's dominant compute ran TWICE, once
    # serialized on the pre-spread scan task (0.65-0.8 s of single-task
    # CPU at sf0.1, in every winnow consumer; the guide-§4.4
    # duplicated-evaluation trap, Generate edition). The outer explode
    # infers no filter; empty-fps docs surface one NULL row that the
    # post-Generate isNotNull drops — row-identical output (fps
    # elements are non-null by construction), and the plan evaluates
    # the fingerprint expression exactly once, after the spread.
    fp = F.explode_outer("fps").alias("fp")
    return (
        d.select("doc_id", fp)
        .where(F.col("fp").isNotNull())
        .select(
            "doc_id",
            F.expr(f"{_WINNOW_P - 1} - (fp % {_WINNOW_P})").cast("long").alias("fp_pos"),
            F.expr(f"fp div {_WINNOW_P}").cast("long").alias("fp_hash"),
        )
    )


#: Overlap-pair defaults: hashes shared by more than this many docs
#: are boilerplate (headers/licenses) and excluded from pairing — the
#: shingle family's stop_df discipline; pairs must share at least
#: MIN_SHARED fingerprints (one shared hash can be a w-window
#: coincidence; two is already strong evidence of a real overlap run).
WINNOW_HASH_STOP_DF = 200
WINNOW_MIN_SHARED = 2


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
    stop_df: int = WINNOW_HASH_STOP_DF,
) -> DataFrame:
    """Overlap candidate pairs from SHARED winnowing fingerprints —
    the consumer that makes :func:`winnow_fingerprints` an end-to-end
    detector: bucket docs by selected fp_hash, enumerate pairs inside
    each bucket, keep pairs sharing >= ``min_shared`` distinct hashes,
    and score overlap = n_shared / min(|fps_a|, |fps_b|) (containment
    convention, floor-rounded at 6 dp like the shingle family).

    Why this next to the Jaccard/containment detectors: identical
    bucket-pairing plan, but the bucketed items are the winnowed
    sub-sample — ~2/(w+1) of the shingle set — so the groupBy and the
    pair fan-out ship ~4.5x less at the same w+k-1-token overlap
    guarantee (every shared verbatim run >= 11 tokens lands in some
    bucket; a pair sharing only SHORTER runs may be missed — the
    documented trade, same class as the stop-shingle lower bound).

    Scale (100 TB): shuffle keys are 40-bit hashes and (id_a, id_b)
    pairs, never text; per-bucket fan-out bounded by ``stop_df``; the
    sizes join is doc-count-sized on the build side and pair-sized on
    the probe side (AQE broadcasts the pair side when it fits) —
    byte-for-byte the containment_pairs shape over smaller input."""
    from .dedup import _shared_key_pairs

    fps = (
        winnow_fingerprints(df, k, w)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    # the min_shared filter is on the pair count alone, so the
    # optimizer pushes it below the sizes joins
    return (
        _shared_key_pairs(fps, "doc_id", "fp_hash", stop_df)
        .filter(F.col("n_inter") >= min_shared)
        .select(
            "id_a",
            "id_b",
            F.col("n_inter").alias("n_shared"),
            F.col("size_a").alias("fp_a"),
            F.col("size_b").alias("fp_b"),
            F.expr(
                "floor(n_inter / least(size_a, size_b) * 1000000 + 0.5) / 1000000"
            ).alias("overlap"),
        )
    )


def winnow_eval_index(
    eval_df: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """The stored decontamination index: distinct ``(eval_id,
    fp_hash)`` winnowing fingerprints of a held-out benchmark/eval
    corpus, ready to persist (parquet) and reuse across training-batch
    runs. Fingerprint the eval set ONCE per benchmark version; every
    nightly :func:`winnow_decontaminate` call then fingerprints only
    its own batch — the media-dedup ``ref_sig`` discipline
    (multimodal.py:phash_incremental) applied to text."""
    return (
        winnow_fingerprints(eval_df, k, w)
        .select(F.col("doc_id").alias("eval_id"), "fp_hash")
        .distinct()
    )


def winnow_decontaminate_multi(
    train: DataFrame,
    eval_index: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Decontaminate ONE training corpus against MANY benchmarks in a
    single pass — the shape a production pre-training pipeline
    actually runs (dozens of held-out evals, one 100 TB batch): the
    per-benchmark generalization of :func:`winnow_decontaminate`,
    whose evidence columns it emits PER (train doc, benchmark).
    Running the single-benchmark detector B times would fingerprint
    the corpus B times; here the train side is fingerprinted ONCE and
    one 40-bit-hash join against the unioned ``(bench_id, eval_id,
    fp_hash)`` index attributes every hit, so the corpus-scale cost
    is independent of B. Build the index by tagging each benchmark's
    :func:`winnow_eval_index` with a ``bench_id`` literal and
    unioning — each benchmark fingerprinted once per version, the
    stored-index discipline unchanged.

    Output, one row per (CONTAMINATED train doc, benchmark hit):
    ``(doc_id, bench_id, n_shared_fp, n_eval_docs, best_eval_id,
    best_shared)`` — the single detector's columns, scoped to that
    benchmark (restricting the index to one bench_id reproduces
    :func:`winnow_decontaminate` row-for-row; pytest-pinned). Docs
    clean against every benchmark emit nothing.

    Scale: identical to the single detector — the train side is the
    zero-shuffle fingerprint pipeline plus one per-doc distinct, the
    index is benchmarks-sized (AQE broadcasts it at runtime; no hint),
    and everything after the join is hit-sized, now keyed by (doc,
    bench) instead of doc.
    The w + k - 1 verbatim-run guarantee applies per benchmark."""
    from ..caching import track

    t_fps = (
        winnow_fingerprints(train, k, w)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    hits = track(t_fps.join(eval_index, "fp_hash").persist())
    shared = hits.groupBy("doc_id", "bench_id").agg(
        F.countDistinct("fp_hash").alias("n_shared_fp")
    )
    per_pair = hits.groupBy("doc_id", "bench_id", "eval_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    best = per_pair.groupBy("doc_id", "bench_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_docs"),
        F.expr("min_by(eval_id, struct(-n_shared, eval_id))").alias("best_eval_id"),
        F.max("n_shared").alias("best_shared"),
    )
    return shared.join(best, ["doc_id", "bench_id"]).select(
        "doc_id", "bench_id", "n_shared_fp", "n_eval_docs", "best_eval_id", "best_shared"
    )


def winnow_decontaminate(
    train: DataFrame,
    eval_df: DataFrame | None = None,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    eval_index: DataFrame | None = None,
) -> DataFrame:
    """Train-vs-eval decontamination on winnowing fingerprints: every
    training document sharing at least one winnowing-selected shingle
    hash with the eval corpus, with per-document contamination
    evidence — the consumer that turns :func:`winnow_fingerprints`
    into the pre-training leak gate (the n-gram
    :func:`contamination_overlap` at ~2/(w+1) of the shipped hashes,
    with the SIGMOD'03 guarantee: any verbatim token run of length
    >= w + k - 1 shared between a train doc and an eval doc selects at
    least one identical fingerprint on both sides, so no sufficiently
    long leak escapes the equality join).

    Output, one row per CONTAMINATED train doc: ``(doc_id,
    n_shared_fp, n_eval_docs, best_eval_id, best_shared)`` where
    ``n_shared_fp`` counts the doc's distinct fingerprint hashes seen
    anywhere in the eval set, ``n_eval_docs`` the distinct eval docs
    hit, and ``best_eval_id`` the eval doc sharing the most hashes
    (ties to the lowest eval id; ``best_shared`` = that count). Clean
    docs emit nothing — anti-join the output against the batch to get
    the releasable set.

    Incremental path: pass a STORED :func:`winnow_eval_index` frame as
    ``eval_index`` — the eval corpus is fingerprinted once per
    benchmark version and each batch run moves only its own 40-bit
    hashes (the ``ref_sig`` pattern of the incremental media dedup).

    Scale (100 TB train, benchmark-sized eval): the train side is the
    zero-shuffle fingerprint pipeline plus one per-doc distinct; the
    join key is a 40-bit hash, the eval index is benchmark-sized so
    AQE broadcasts it at runtime from its measured size (no hint);
    everything after the join is pair-sized — two narrow aggregations
    on the matched ids, never on the corpus. Text never shuffles."""
    from ..caching import track

    if eval_index is None:
        if eval_df is None:
            raise ValueError(
                "winnow_decontaminate: pass eval_df or a stored eval_index"
            )
        eval_index = winnow_eval_index(eval_df, k, w)
    t_fps = (
        winnow_fingerprints(train, k, w)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    # two consumers (hash-level and pair-level rollups): join once
    hits = track(t_fps.join(eval_index, "fp_hash").persist())
    shared = hits.groupBy("doc_id").agg(
        F.countDistinct("fp_hash").alias("n_shared_fp")
    )
    per_pair = hits.groupBy("doc_id", "eval_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    best = per_pair.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_docs"),
        F.expr("min_by(eval_id, struct(-n_shared, eval_id))").alias("best_eval_id"),
        F.max("n_shared").alias("best_shared"),
    )
    return shared.join(best, "doc_id").select(
        "doc_id", "n_shared_fp", "n_eval_docs", "best_eval_id", "best_shared"
    )


def winnow_contaminated_spans(
    train: DataFrame,
    eval_df: DataFrame | None = None,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    eval_index: DataFrame | None = None,
    merge_gap: int | None = None,
) -> DataFrame:
    """WHERE the leak is: the surgical consumer of
    :func:`winnow_decontaminate`. For every training document sharing
    winnowing fingerprints with the eval corpus, localize the matched
    fingerprint POSITIONS and merge them into contiguous token spans —
    the excision targets a pipeline cuts out of an otherwise-keepable
    document (the winnowed-path analog of the exact n-gram
    ``span_trim`` family).

    Output, one row per (contaminated doc, span):
    ``(doc_id, span_start, span_end, n_fps)`` — token indices, span
    end inclusive of the last matched shingle's k tokens. Islands:
    matched positions with a gap <= ``merge_gap`` (default
    w + k - 1 = the guarantee length: inside one shared verbatim run
    the selection never goes w positions without a sample, so matched
    fps of a single run can never be farther apart than that) merge
    into one span; a larger gap starts a new span. The span brackets
    the SELECTED fingerprints of the leaked run, not the run's exact
    edges — winnowing samples ~2/(w+1) of the shingles, so pad by w
    tokens on each side before cutting if the excision must be
    guaranteed-superset (documented trade; the matched positions are
    always inside the shared run when contexts differ, since a
    boundary shingle mixing run and context tokens exists on only one
    side).

    Scale: the train side is the zero-shuffle fingerprint pipeline;
    the semi join ships 40-bit hashes against the benchmark-sized eval
    index; the islands window partitions by doc over the MATCHED
    positions only — a contamination-sized frame, not the corpus."""
    from pyspark.sql.window import Window

    if eval_index is None:
        if eval_df is None:
            raise ValueError(
                "winnow_contaminated_spans: pass eval_df or a stored eval_index"
            )
        eval_index = winnow_eval_index(eval_df, k, w)
    gap = (w + k - 1) if merge_gap is None else merge_gap
    if gap < 1:
        raise ValueError(f"merge_gap must be >= 1, got {gap}")
    matched = (
        winnow_fingerprints(train, k, w)
        .join(eval_index.select("fp_hash").distinct(), "fp_hash", "left_semi")
        .select("doc_id", "fp_pos")
        .distinct()
    )
    by_pos = Window.partitionBy("doc_id").orderBy("fp_pos")
    islands = matched.withColumn(
        "_new",
        F.when(
            F.col("fp_pos") - F.lag("fp_pos").over(by_pos) > F.lit(gap), 1
        ).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new").over(by_pos.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("doc_id", "_island").agg(
        F.min("fp_pos").cast("long").alias("span_start"),
        (F.max("fp_pos") + (k - 1)).cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_fps"),
    ).select("doc_id", "span_start", "span_end", "n_fps")


def winnow_decontaminate_trim(
    train: DataFrame,
    eval_df: DataFrame | None = None,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    eval_index: DataFrame | None = None,
    pad: int | None = None,
) -> DataFrame:
    """EXCISE the leak: the final step of the winnowing
    decontamination arc (detect → localize → cut). Every training
    document comes back with its contaminated spans removed — clean
    docs pass through verbatim (token-rejoined), contaminated docs
    lose the padded spans — so the output IS the releasable corpus,
    the winnowed-path analog of the exact n-gram ``trim_duplicate_
    spans``.

    Output, one row per train doc: ``(doc_id, clean_text,
    n_removed)`` — ``clean_text`` is the surviving tokens rejoined
    with single spaces (whitespace-normalized, the text-family
    convention), ``n_removed`` the token count cut.

    GUARANTEED-SUPERSET PROOF (why ``pad`` defaults to w - 1): inside
    a verbatim run of length L >= w + k - 1 shared with an eval doc,
    every window of w shingles lying FULLY inside the run has
    byte-identical content in both documents, hence an identical
    minimum, hence selects a fingerprint MATCHED on both sides. So
    matched positions cover the run interior at gaps < w (one island
    under the w + k - 1 merge gap), the first matched position is at
    most w - 1 shingles after the run start, and the last at most
    w - 1 before the last run shingle. Padding the island by w - 1
    tokens on each side therefore covers the ENTIRE run: no token of
    any leaked run of guarantee length survives. (Shorter overlaps
    may survive — the same documented bound as the detector.)

    Scale: the span computation is the detector's contamination-sized
    pipeline; the trim joins the corpus against the per-doc padded
    span LISTS (contaminated docs only — broadcast-sized next to the
    corpus) and filters tokens in a per-row HOF, so the corpus itself
    crosses no extra shuffle and clean documents never explode."""
    spans = winnow_contaminated_spans(
        train, eval_df, k, w, eval_index=eval_index
    )
    p = (w - 1) if pad is None else pad
    if p < 0:
        raise ValueError(f"pad must be >= 0, got {p}")
    per_doc = (
        spans.select(
            "doc_id",
            F.greatest(F.col("span_start") - p, F.lit(0)).alias("_s"),
            (F.col("span_end") + p).alias("_e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("_s", "_e")).alias("_spans"))
    )
    # tokens of the ORIGINAL text (same '\s+' boundaries the winnow
    # positions were computed on; lowering never moves whitespace);
    # the 2-arg filter lambda gets the 0-based index Spark guarantees
    return (
        train.select("doc_id", "text")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "filter(split(text, '\\\\s+'), (t, i) -> "
                "_spans IS NULL OR NOT exists(_spans, sp -> "
                "i >= sp._s AND i <= sp._e))"
            ).alias("_kept"),
            F.size(F.split(F.col("text"), r"\s+")).alias("_total"),
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("_kept")).alias("clean_text"),
            (F.col("_total") - F.size("_kept")).cast("long").alias("n_removed"),
        )
    )


def inverted_index(
    df: DataFrame,
    min_df: int = 2,
    terms: DataFrame | None = None,
) -> DataFrame:
    """Posting-list inverted index over whitespace tokens: one row per
    (term, document) with the term's document frequency attached —
    the retrieval-side artifact a search/RAG pipeline builds from the
    corpus. Terms below `min_df` are dropped (hapaxes dominate the
    vocabulary but never match multi-doc queries).

    Scale shape: per-row array_distinct → explode (narrow — postings
    are unique per (term, id) by construction, so no distinct shuffle)
    → df via a window over the term; the one shuffle co-partitions the
    postings by term for the downstream merge.

    ``terms`` (a 1-column ``term`` frame, broadcast-sized) restricts
    the index to those terms BELOW the dfreq window — per-term df
    depends only on that term's own postings, so the restricted rows
    are byte-identical to the full index's, but the term shuffle
    carries a query batch's postings instead of the corpus vocabulary
    (the aggregate-pushdown discipline of the derived-partsupp TPC-H
    block).
    """
    from pyspark.sql.window import Window

    from ..tables import spread_scan

    ws = F.split(F.lower(F.col("text")), r"\s+")
    # layout spread before the tokenize/array_distinct/explode (guide
    # §2.5): single-file inputs otherwise build the whole posting
    # stream on one core; no-op on a many-file corpus
    postings = spread_scan(df.select(F.col("doc_id"), F.col("text"))).select(
        F.col("doc_id"), F.explode(F.array_distinct(ws)).alias("term")
    )
    if terms is not None:
        postings = postings.join(
            F.broadcast(terms.select("term").distinct()), "term", "left_semi"
        )
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    return (
        postings.withColumn("dfreq", dfreq)
        .filter(F.col("dfreq") >= min_df)
        .select("term", "dfreq", "doc_id")
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    doc_filter: "Column | None" = None,
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf with a
    RATIONAL idf (N/df instead of log(N/df)): the ranking is the same
    for any monotone idf, and integer-ratio math is bit-identical on
    every engine while `ln` can differ in the last ulp across libm
    implementations (a rank flip an oracle would flag).

    score = (count_in_doc · N) / (n_tokens · df)

    Scale shape: one explode, a (id, term) count, df as a COUNT OVER
    the term partition (no second aggregate, no join — one shuffle on
    term instead of two join shuffles), a scalar doc count broadcast,
    and a per-doc top-k window. Three shuffles total, each on a
    natural key; no data passes through Python.

    ``doc_filter`` restricts the RANKED docs while keeping N and df
    corpus-global — the query-construction pushdown: the tf
    side reads only the filtered docs (the predicate reaches the
    scan), and df is counted from an array_distinct explode of the
    corpus broadcast-semi-pruned to the filtered docs' candidate
    terms (per-term df is self-contained, so the output rows are
    byte-identical to ranking everything then filtering — the
    inverted_index ``terms`` discipline).

    SCALE CONTRACT of the filtered branch (the multi_query_search
    bounded-batch discipline): the candidate-term semi filter and the
    dfreq probe are broadcast-hinted, because both are bounded by the
    filtered docs' distinct vocabulary. ``doc_filter`` must keep a
    bounded doc batch whose vocabulary fits an executor — the one
    engine caller, :func:`multi_query_search`, passes such a batch. A
    broad filter makes both frames corpus-vocabulary-sized; rank the
    unfiltered corpus instead and filter the output.

    PRECONDITION (both branches' df and inverted_index's dfreq window
    share it): ``doc_id`` is unique — df counts one posting row per
    (doc, term), so a duplicated id would double-count its terms' df
    in the filtered branch while the unfiltered branch's tc groupBy
    collapses it. ``doc_id`` is the documents table's key."""
    from pyspark.sql.window import Window

    ws = F.split(F.lower(F.col("text")), r"\s+")
    if doc_filter is None:
        ex = df.select(
            F.col("doc_id"), F.size(ws).alias("n_tokens"), F.explode(ws).alias("term")
        )
        tc = ex.groupBy("doc_id", "n_tokens", "term").agg(F.count(F.lit(1)).alias("cnt"))
        scored = tc.withColumn(
            "dfreq", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
    else:
        tc = (
            df.filter(doc_filter)
            .select(
                F.col("doc_id"), F.size(ws).alias("n_tokens"), F.explode(ws).alias("term")
            )
            .groupBy("doc_id", "n_tokens", "term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        cand_terms = F.broadcast(tc.select("term").distinct())
        # corpus df for candidate terms only: postings are unique per
        # (doc, term) by construction (array_distinct), so the count
        # needs no distinct shuffle; the semi filter prunes the
        # explode output before its one shuffle
        dfreq = (
            df.select(F.explode(F.array_distinct(ws)).alias("term"))
            .join(cand_terms, "term", "left_semi")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("dfreq"))
        )
        # dfreq is bounded by the filtered docs' vocabulary (see the
        # scale contract above)
        scored = tc.join(F.broadcast(dfreq), "term")
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = scored.crossJoin(F.broadcast(n_docs)).withColumn(
        "_score", (F.col("cnt") * F.col("n_docs")) / (F.col("n_tokens") * F.col("dfreq"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("_score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            F.expr("floor(_score * 10000 + 0.5) / 10000").alias("score"),
            "rank",
        )
    )


# BM25 constants spelled as literals so the Spark and DuckDB formula
# strings are textually identical (same double parsing, same IEEE ops)
BM25_K1, BM25_B = "1.2", "0.75"


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Execute a keyword query over the corpus with BM25 ranking and a
    RATIONAL idf ((N − df + 0.5)/(df + 0.5), no log — monotone in df,
    bit-identical across engines; see :func:`tfidf_top_terms`).

    Because the query terms are literals, per-term tf is an array
    `filter` expression in the scan projection — no explode, no
    posting-list join. Corpus-level stats (N, Σdl, per-term df) are ONE
    1-row aggregate broadcast back, and the final top-k is
    orderBy+limit (TakeOrderedAndProject: per-partition heads merged on
    the driver — never a single-partition window). Total cost: two
    narrow passes over the scan + k rows.
    """
    from ..tables import spread_scan

    ws = "split(lower(text), '\\\\s+')"
    tf_cols = [
        F.expr(f"size(filter({ws}, t -> t = '{t}'))").alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    # layout spread (guide §2.5): BOTH narrow passes below (the 1-row
    # stats agg and the scored projection) re-run this tokenize-heavy
    # scan — on a single-file input each would run on one core.
    # Integer tf/dl sums only, so the spread is result-invisible.
    base = spread_scan(df.select(F.col("doc_id"), F.col("text"))).select(
        F.col("doc_id"), F.expr(f"size({ws})").alias("dl"), *tf_cols
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    ] + [
        F.sum((F.col(f"tf_{i}") > 0).cast("int")).alias(f"df_{i}")
        for i in range(len(query_terms))
    ]
    stats = base.agg(*aggs).withColumn(
        "avgdl", F.col("sum_dl").cast("double") / F.col("n_docs")
    )
    contribs = " + ".join(
        f"((n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * 2.2)"
        f" / (tf_{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
        for i in range(len(query_terms))
    )
    scored = base.crossJoin(F.broadcast(stats)).withColumn("_raw", F.expr(contribs))
    # Rank the k surviving rows WITHOUT a window function: an
    # unpartitioned Window.orderBy — even over k rows — runs a
    # WindowExec that logs "No Partition Defined" on every execution.
    # Instead coalesce the top-k to one sorted
    # partition and read the row index off monotonically_increasing_id.
    #
    # IMPLEMENTATION-DETAIL CONTRACT (not a documented Spark
    # guarantee): Spark only promises monotonically_increasing_id is
    # "monotonically increasing and unique, not consecutive"; we
    # additionally rely on (a) the id being partitionIndex<<33 + local
    # row offset — so partition 0 enumerates 0..k-1 consecutively —
    # and (b) the optimizer not reordering the nondeterministic
    # project across sortWithinPartitions (Catalyst treats
    # nondeterministic expressions as ordering barriers today). Both
    # hold on Spark 3.x/4.x and the DuckDB oracle parity test pins the
    # output, so a behavior change fails loudly in CI rather than
    # silently. Contract-safe fallback if this ever flakes: join rank
    # from a driver-side take(k) of the sorted frame (k rows, bounded)
    # or accept the k-row WindowExec.
    top = (
        scored.orderBy(F.col("_raw").desc(), F.col("doc_id").asc())
        .limit(k)
        .coalesce(1)
        .sortWithinPartitions(F.col("_raw").desc(), F.col("doc_id").asc())
    )
    return top.select(
        "doc_id",
        F.expr("floor(_raw * 10000 + 0.5) / 10000").alias("score"),
        (F.monotonically_increasing_id() + 1).cast("int").alias("rank"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09):
    merge any number of ranked candidate lists into one consensus
    ranking by ``score(d) = Σ_lists 1/(c + rank_list(d))`` — the
    standard hybrid-retrieval combiner (BM25 + dense ANN in a RAG /
    training-data curation stack) because it needs no score
    calibration between heterogeneous rankers, only ranks.

    Arithmetic is integer-exact: each contribution is the e12
    fixed-point ``10^12 div (c + rank)`` and the fusion sum stays a
    BIGINT, so the result is bit-identical across engines and
    addition orders (a double ``sum(1.0/(c+rank))`` over 3+ lists is
    order-sensitive in the last ulp — exactly the nondeterminism an
    order-insensitive value hash would flag). ``rrf_score`` is the
    half-up 6-dp projection of that integer; ties break on the id.

    Output: ``(doc_id, rrf_score, n_lists, rank)`` — top-``k`` fused
    rows, ``n_lists`` = how many input lists carried the candidate
    (a document absent from a list simply contributes nothing, the
    standard RRF convention).

    Scale: the inputs are k-bounded candidate lists (top-N per
    ranker), so the union + groupBy + top-k all run on frames of at
    most ``len(rankings) × N`` rows — fusion never touches the
    corpus; the heavy lifting stays in the upstream rankers."""
    if not rankings:
        raise ValueError("rrf_fuse: pass at least one ranked frame")
    if c < 0:
        raise ValueError(f"rrf_fuse: c must be >= 0, got {c}")
    # rank is read through the alias _rank (rank is also a SQL window
    # function's name), and NULL / non-positive ranks fail LOUDLY: in
    # non-ANSI Spark a NULL rank would make the div NULL, F.sum would
    # skip it, and n_lists would still count the list — a silently
    # under-scored doc
    contrib = F.expr(
        f"CASE WHEN _rank IS NULL OR _rank < 1 THEN "
        f"raise_error(concat('rrf_fuse: rank must be a positive "
        f"integer, got ', coalesce(cast(_rank as string), 'NULL'))) "
        f"ELSE 1000000000000 div ({c} + _rank) END"
    ).alias("_e12")
    parts = [
        r.select(F.col("doc_id"), F.col("rank").alias("_rank")).select(
            F.col("doc_id"), contrib
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("doc_id").agg(
        F.sum("_e12").cast("long").alias("_sum_e12"),
        F.count(F.lit(1)).cast("int").alias("n_lists"),
    )
    # same k-row rank-off-sorted-partition pattern (and the same
    # implementation-detail contract note) as bm25_search above
    top = (
        fused.orderBy(F.col("_sum_e12").desc(), F.col("doc_id").asc())
        .limit(k)
        .coalesce(1)
        .sortWithinPartitions(F.col("_sum_e12").desc(), F.col("doc_id").asc())
    )
    return top.select(
        "doc_id",
        (
            F.expr("(_sum_e12 + 500000) div 1000000").cast("double") / 1000000.0
        ).alias("rrf_score"),
        "n_lists",
        (F.monotonically_increasing_id() + 1).cast("int").alias("rank"),
    )


def bigram_lm(df: DataFrame) -> DataFrame:
    """Corpus bigram language model: ``(w1, w2, n_b, n_c)`` — the
    observed count of each adjacent whitespace-token pair plus the
    context total ``n_c = Σ_w2 n_b(w1, ·)``, so the MLE transition
    probability is ``n_b / n_c``. The context denominator is derived
    from the bigram table itself (occurrences of w1 in non-final
    position), which keeps the model self-consistent: probabilities
    out of every context sum to exactly 1.

    Scale design (100 TB): bigrams leave the scan as (w1, w2) pairs
    from a per-row ``transform`` over the token array — one narrow
    explode, one map-side-combined groupBy. The context totals are a
    window over w1 within the bigram-vocab-sized count frame (no
    second corpus pass). The model is bigram-vocab-sized (Zipf-bounded
    well below the token count), small enough to persist as a table
    and usually to broadcast for scoring."""
    from pyspark.sql import Window

    arr = F.split(F.lower(F.col("text")), r"\s+")
    bi_expr = (
        "CASE WHEN size(_arr) < 2 THEN array() "
        "ELSE transform(sequence(2, size(_arr)), "
        "i -> struct(element_at(_arr, i - 1) AS w1, element_at(_arr, i) AS w2)) END"
    )
    counts = (
        df.select(arr.alias("_arr"))
        .select(F.explode(F.expr(bi_expr)).alias("bg"))
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return counts.withColumn(
        "n_c", F.sum("n_b").over(Window.partitionBy("w1"))
    )


def bigram_logprob(
    df: DataFrame,
    lam: float = 0.75,
) -> DataFrame:
    """Per-document average negative log-probability under an
    interpolated bigram LM — the KenLM-style perplexity filter one
    order up from :func:`unigram_logprob` (CCNet scores under a
    5-gram model; the bigram captures the word-order signal a unigram
    cannot: scrambled text scores identically to fluent text under a
    unigram LM but not under this).

    Each transition is scored ``-ln(λ·n_b/n_c + (1-λ)·n_u(w2)/T)``
    (Jelinek-Mercer interpolation with the corpus unigram as the
    backoff, so unseen-in-context pairs get a finite penalty), and the
    doc score averages its ``size-1`` transitions. Output
    ``(id, n_bigrams, avg_neg_logprob)`` for EVERY doc; docs with <2
    tokens have 0 transitions and score 0.0. Self-scoring (model fit
    on ``df`` itself), so every transition's n_b ≥ 1 by construction.

    Scale design (100 TB): the per-position bigram frame joins the
    bigram model on (w1, w2) — bigram-vocab-sized, usually
    broadcastable but left unhinted so AQE downgrades to shuffle
    rather than OOM if the vocabulary explodes — and the unigram
    model + 1-row total broadcast. One map-side-combined (id, partial)
    shuffle closes it; document text never shuffles."""
    if not 0.0 < lam < 1.0:
        raise ValueError(f"lam must be in (0, 1), got {lam}")
    arr = F.split(F.lower(F.col("text")), r"\s+")
    bi_expr = (
        "CASE WHEN size(_arr) < 2 THEN array() "
        "ELSE transform(sequence(2, size(_arr)), "
        "i -> struct(element_at(_arr, i - 1) AS w1, element_at(_arr, i) AS w2)) END"
    )
    pos = (
        df.select(F.col("doc_id"), arr.alias("_arr"))
        .select("doc_id", F.explode(F.expr(bi_expr)).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    model = bigram_lm(df)
    uni = (
        df.select(F.explode(arr).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_u"))
    )
    total = uni.agg(F.sum("n_u").alias("_total"))
    lp = F.log(
        F.lit(float(lam)) * F.col("n_b") / F.col("n_c")
        + F.lit(1.0 - lam) * F.col("n_u") / F.col("_total")
    )
    scored = (
        pos.join(model, ["w1", "w2"])
        .join(F.broadcast(uni.withColumnRenamed("token", "w2")), "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(-F.avg(lp), 4).alias("avg_neg_logprob"),
        )
    )
    return df.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("avg_neg_logprob", F.lit(0.0)).alias("avg_neg_logprob"),
    )


# Hashed-linear-classifier constants: bucket count, Knuth multiplier,
# and a prime modulus for the weight mix. 65536 buckets keeps
# bucket * _CLF_MIX < 2^48 — safe BIGINT arithmetic in every ANSI
# engine (no overflow wrap/promote divergence; same concern as
# sampling.split_bucket_expr).
CLF_BUCKETS = 65536
_CLF_MIX = 2654435761
_CLF_PRIME = 1000003


def classifier_score(df: DataFrame) -> DataFrame:
    """Model-based quality scoring with a hashed linear classifier —
    the fastText-shaped filtering stage of an LLM data pipeline
    (LLaMA/CCNet-style: a cheap linear model over hashed bag-of-words
    features gates which documents reach training). The trained-weight
    load is deliberately replaced by a DETERMINISTIC weight function
    so the engine-side contract — feature hashing, exact integer
    aggregation, the logit/sigmoid transform — is testable
    cross-engine without shipping a model artifact; swap
    ``w(bucket)`` for a broadcast weight table lookup to serve real
    weights (the plan shape is identical: the weight table is
    ``CLF_BUCKETS`` rows, always broadcastable).

    Per token: bucket = first-8-hex-chars(md5(token)) mod 65536 (the
    cross-engine portable hash — Spark ``conv`` and an ANSI hex cast
    agree), integer weight ``(bucket · 2654435761) mod 1000003``. Per
    doc: ``n_tokens`` and the EXACT integer weight sum, then ONE float
    op chain at the end: ``logit = 2·(Σw / n) / P − 1`` (centered to
    roughly [-1, 1)) and ``clf_score = σ(4·logit)``. Keeping the
    aggregation integer-exact means the only FP divergence surface is
    the final per-row transform on identical inputs — the same
    convention the decimal TPC-H block uses.

    Scale design (100 TB): hash + weight are JVM expressions inside
    the scan projection; the only shuffle is the map-side-combined
    (id, n, Σw) rollup. No join, no model shipping, no UDF."""
    tok = F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    bucket = F.expr(
        f"cast(conv(substr(md5(token), 1, 8), 16, 10) AS bigint) % {CLF_BUCKETS}"
    )
    w_int = F.expr(f"(_bucket * {_CLF_MIX}L) % {_CLF_PRIME}")
    per_tok = (
        df.select(F.col("doc_id"), tok)
        .withColumn("_bucket", bucket)
        .withColumn("_w", w_int)
    )
    agg = per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("_w").cast("long").alias("_sw"),
    )
    logit = (F.col("_sw") * 2.0 / F.col("n_tokens")) / _CLF_PRIME - 1.0
    return agg.select(
        "doc_id",
        "n_tokens",
        F.round(logit, 6).alias("clf_logit"),
        F.round(1.0 / (1.0 + F.exp(-4.0 * logit)), 4).alias("clf_score"),
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 500,
) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: score every document's
    out-of-vocabulary rate against the corpus's own top-``vocab_size``
    tokens (by frequency, ties broken by token ascending — a total
    order, so the vocab is deterministic). High OOV rate flags docs a
    fixed-vocabulary tokenizer would shred into bytes/UNKs — the
    standard pre-training audit before committing a tokenizer to a
    corpus mix. Output ``(id, n_tokens, n_oov, oov_rate)``.

    Scale design (100 TB): the vocab is a top-k over the token-count
    frame — ``orderBy(...).limit(k)`` compiles to TakeOrdered (per-
    partition heaps + k-row driver merge, no global sort shuffle).
    Scoring broadcasts the k-row vocab as a left-semi-style flag join
    onto the exploded tokens and closes with one map-side-combined
    (id, n, n_in) shuffle. The corpus is scanned twice (count pass +
    score pass) — at 100 TB, persist the counts or reuse a saved vocab
    table instead of refitting per query."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    toks = df.select(
        F.col("doc_id"), F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), F.col("token").asc())
        .limit(vocab_size)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("_in_vocab")).cast("long").alias("n_oov"),
            F.expr(
                "floor((count(1) - count(_in_vocab)) / count(1) * 1000000 + 0.5) / 1000000"
            ).alias("oov_rate"),
        )
    )


# Feature-hashing embedder constants: signs come from a second Knuth
# mix over (bucket, dim). Operands stay < 2^48 (same BIGINT-overflow
# discipline as the classifier weights).
_EMB_MIX_DIM = 40503


def hashed_doc_embedding(
    df: DataFrame,
    dim: int = 64,
) -> DataFrame:
    """Feature-hashing document embedder (the hashing trick / signed
    random projection): ``emb[j] = Σ_tokens sign(bucket(token), j)``
    with ±1 signs drawn deterministically per (bucket, dim) — the
    no-model bridge from the ``documents`` table into embedding space,
    so every vector operator here (cosine near-dup, SemDeDup, ANN,
    MMR) can run on a text corpus before a learned embedder exists.
    Sparse random projections preserve bag-of-words cosine geometry in
    expectation (Johnson-Lindenstrauss; Achlioptas-style ±1 signs), so
    shared-vocabulary documents land near each other — the pytest pins
    that ordering on planted overlaps.

    Output is LONG FORM ``(id, dim_idx, val)`` with ``val`` an EXACT
    integer (the cross-engine-auditable shape; sums of ±1 never touch
    floats). :func:`hashed_doc_embedding_vec` folds it to the
    ``array<float>`` column the vector operators consume.

    Scale design (100 TB): tokens leave the scan as 16-bit bucket ids;
    one map-side-combined (id, bucket) count collapses repeated tokens
    BEFORE the dim fan-out, so the explode multiplies distinct-buckets-
    per-doc (≤ min(vocab, doc length)) by ``dim``, not raw tokens by
    ``dim``; one final (id, dim) rollup. Both shuffles move integer
    triples only."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    # layout spread before the tokenize/md5 fan-out (guide §2.5): the
    # explode + per-token md5 otherwise run inside the scan stage —
    # one task on a single-file input; no-op on a many-file corpus
    from ..tables import spread_scan

    tok = F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    bucket = F.expr(
        f"cast(conv(substr(md5(token), 1, 8), 16, 10) AS bigint) % {CLF_BUCKETS}"
    )
    per_bucket = (
        spread_scan(df.select(F.col("doc_id"), F.col("text")))
        .select(F.col("doc_id"), tok)
        .select("doc_id", bucket.alias("_bucket"))
        .groupBy("doc_id", "_bucket")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    # sign = parity of the SQUARED affine mix. The square matters: the
    # affine form alone is linear in dim_idx, so its parity is a
    # near-alternating function of the dim — every bucket's sign
    # vector collapses onto ±one pattern and all embeddings come out
    # nearly parallel (measured: random-doc cosine p99 ≈ 0.89).
    # Squaring routes through the quadratic residues and restores
    # hash-quality decorrelation (p99 ≈ 0.29, statistically identical
    # to an md5 sign) while staying integer-exact and ANSI-portable:
    # x < 1000003 so x² < 2^40, no BIGINT overflow in any engine.
    sign = F.expr(
        f"(((_bucket * {_CLF_MIX}L + dim_idx * {_EMB_MIX_DIM}L) % {_CLF_PRIME}) * "
        f"((_bucket * {_CLF_MIX}L + dim_idx * {_EMB_MIX_DIM}L) % {_CLF_PRIME}) % "
        f"{_CLF_PRIME}) % 2 * 2 - 1"
    )
    return (
        per_bucket.select(
            "doc_id",
            "_bucket",
            "_cnt",
            F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("dim_idx"),
        )
        .groupBy("doc_id", "dim_idx")
        .agg(F.sum(F.col("_cnt") * sign).cast("long").alias("val"))
    )


def hashed_doc_embedding_vec(
    df: DataFrame,
    dim: int = 64,
) -> DataFrame:
    """:func:`hashed_doc_embedding` folded to the ``array<float>``
    column shape the similarity operators consume (``(id, embedding)``
    — drop-in for the ``embeddings`` table's schema). One extra
    (id)-keyed shuffle to assemble the array; dims are densely filled
    (a dim with no contribution is exact 0)."""
    long = hashed_doc_embedding(df, dim)
    return (
        long.groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim_idx, val))), "
                "s -> CAST(s.val AS FLOAT))"
            ).alias("embedding")
        )
    )


# Encoding-damage patterns, kept dialect-portable (literal
# alternations / explicit classes work identically in Java regex and
# RE2): UTF-8-as-Latin-1 mojibake digraphs, the Unicode replacement
# character, and C0 control bytes (minus \t\n\r). Every alternative
# requires the FULL digraph — a bare 'â€' or 'Â' prefix is legitimate
# text (French 'Âge', 'â' + Euro sign) and must not trip a gate that
# suppresses documents (the optional suffix classes were high-recall
# false positives).
ENC_MOJIBAKE = "Ã[©¨«¤¶¼±£ ]|â€[™œ¦“”]|Â[« »]"
ENC_REPLACEMENT = "�"
ENC_CONTROL = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


def encoding_flags(df: DataFrame) -> DataFrame:
    """Encoding-damage audit per document: counts of UTF-8-decoded-as-
    Latin-1 mojibake digraphs (the 'Ã©'/'â€™' artifacts of a
    double-encoding bug somewhere upstream), U+FFFD replacement
    characters (lossy transcoding already happened), and stray C0
    control bytes — the standard crawl-hygiene signals a text pipeline
    gates on before tokenization (a tokenizer happily shreds mojibake
    into junk subwords that poison the vocab). ``clean = 1`` iff all
    three counts are 0.

    Pure regexp projection over the scan: zero shuffle, zero UDF,
    bandwidth-bound at 100 TB like the rest of the text family."""

    def n(pat: str) -> Column:
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))

    return df.select(
        F.col("doc_id"),
        n(ENC_MOJIBAKE).alias("n_mojibake"),
        n(ENC_REPLACEMENT).alias("n_replacement"),
        n(ENC_CONTROL).alias("n_control"),
        (
            (n(ENC_MOJIBAKE) == 0) & (n(ENC_REPLACEMENT) == 0) & (n(ENC_CONTROL) == 0)
        )
        .cast("int")
        .alias("clean"),
    )


# Markup-stripping patterns, dialect-portable (no backreferences — RE2
# silently fails to match a \1 pattern rather than erroring, so the
# script/style closers are spelled out in an alternation).
MARKUP_BLOCKS = "(?s)<script[^>]*>.*?</script>|(?s)<style[^>]*>.*?</style>|<!--.*?-->"
MARKUP_TAG = "<[^>]+>"
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST, so '&amp;lt;' unescapes once, not twice
]


def strip_markup(df: DataFrame) -> DataFrame:
    """Markup-to-text extraction — the boilerplate-stage predecessor of
    every text filter here: drop script/style/comment blocks wholesale
    (their CONTENT is code, not prose), strip remaining tags, unescape
    the six ubiquitous HTML entities (&amp; last, so double-escaped
    text unescapes exactly one level), and collapse whitespace. Output
    ``(id, clean_text, removed_chars)`` — ``removed_chars`` (raw minus
    clean length) is the cheap markup-density signal: a doc that loses
    most of its bytes to markup was navigation, not content.

    Pure chained-regexp projection: zero shuffle, zero UDF,
    bandwidth-bound. Patterns are dialect-portable (tested identical
    under Java regex and RE2 — including the RE2 backreference trap
    the module constant documents). A full boilerplate extractor
    (jusText/trafilatura-class, DOM-aware) is a Pandas-UDF stage by
    nature; this is the JVM-side 95% that runs at scan speed."""
    clean = F.regexp_replace(F.col("text"), MARKUP_BLOCKS, " ")
    clean = F.regexp_replace(clean, MARKUP_TAG, " ")
    for ent, rep in _ENTITIES:
        clean = F.replace(clean, F.lit(ent), F.lit(rep))
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return df.select(
        F.col("doc_id"),
        clean.alias("clean_text"),
        (F.length("text") - F.length(clean)).cast("int").alias("removed_chars"),
    )


def _bpe_merge_step(syms: "Column | str", left: str, right: str) -> Column:
    """One greedy left-to-right non-overlapping merge of the adjacent
    symbol pair ``(left, right)`` into ``left+right`` over a symbol
    array — THE merge semantics of BPE, shared by the trainer
    (:func:`bpe_learn_merges`) and the tokenizer
    (:func:`bpe_apply_merges`) so the two cannot drift.

    Two result-identical formulations, chosen per pair at plan-build
    time (left/right are driver-side constants):

    - ``left != right`` (every learned merge in practice): two
      candidate positions can never be adjacent — overlap at i, i+1
      would need syms[i+1] = right = left — so greedy consumes EVERY
      candidate and each element's fate is decidable from its
      neighbors alone: emit left+right where (x, next) match, drop x
      where (prev, x) match, keep x otherwise. O(1) per element
      (two neighbor probes) vs the fold's O(len) accumulator copy per
      element; the fold's no-chaining
      argument (a freshly merged element equals left+right, never bare
      left) holds here as "merges happen only at original candidate
      positions".

    - ``left == right``: runs of the same symbol make consumption
      sequential (aaa -> [aa, a] — position 1 is a candidate but its
      left half was consumed), so only the fold encodes the
      dependency. try_element_at: plain element_at THROWS on the
      empty accumulator under Spark 4's ANSI default.

    ``F.get`` (0-based, NULL on any out-of-range index including
    negative) keeps the neighbor probes total at both array ends.
    Symbol arrays never contain NULL (symbols come from substring/
    concat of non-NULL words), so NULL is a safe drop marker."""
    a, b, ab = F.lit(left), F.lit(right), F.lit(left + right)
    if left == right:
        return F.aggregate(
            syms,
            F.expr("cast(array() as array<string>)"),
            lambda acc, x: F.when(
                (F.try_element_at(acc, F.lit(-1)) == a) & (x == b),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(ab)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
    col = F.col(syms) if isinstance(syms, str) else syms
    return F.filter(
        F.transform(
            col,
            lambda x, i: F.when(
                (x == a) & (F.get(col, i + F.lit(1)) == b), ab
            )
            .when(
                (x == b) & (F.get(col, i - F.lit(1)) == a),
                F.lit(None).cast("string"),
            )
            .otherwise(x),
        ),
        lambda v: v.isNotNull(),
    )


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 8,
    return_vocab_state: bool = False,
) -> "DataFrame | tuple[DataFrame, DataFrame]":
    """Iterative BPE merge training (the loop behind
    :func:`queries.textops.bpe_merge_candidates`'s single round):
    start from character-level symbol sequences over the WEIGHTED
    vocabulary, then ``n_merges`` times pick the corpus-most-frequent
    adjacent symbol pair (ties broken by pair string) and merge it
    greedily left-to-right in every word. Returns the learned merge
    table — (round, left, right, freq) — the artifact a tokenizer
    trainer ships.

    Scale shape (the CC discipline applied to an iterative text
    algorithm): the corpus collapses to the distinct-word frame ONCE
    (one shuffle with map-side combine; a word seen a billion times
    carries its count, not its copies); every round after that runs on
    the vocabulary frame only — pair counts are one small shuffle,
    the argmax is a 1-row driver collect (like CC's convergence
    probe), and the merge rewrite is a pure executor-side fold
    (aggregate() over each word's symbol array, no shuffle). Per-round
    frames use the CC checkpoint lifecycle (lazy localCheckpoint, the
    argmax collect as the materializing action): the lineage cut keeps
    Catalyst from re-analyzing every prior round's nested-lambda fold,
    and the round before last is unpersisted as soon as the current
    round materializes — the block store holds at most two vocabulary
    frames, and nothing survives past the return (the merge table is a
    LocalRelation).

    ``return_vocab_state=True`` additionally returns the trainer's
    FINAL per-word symbol frame ``(w, syms)`` — the vocabulary with
    every learned merge already applied, which is exactly what a
    tokenizer applying this merge table to the same corpus would
    recompute from scratch (guide §1.2 "don't compute things you
    throw away": the learn-then-tokenize query paid the whole vocab
    rewrite — distinct + one projection layer per merge — twice). The
    state frame is backed by the final round's checkpoint blocks,
    registered with caching.track_rdds for release at the next query
    boundary; consume it within the same query.
    """
    from ..caching import persistent_rdd_ids, track_rdds, unpersist_rdds

    spark = docs.sparkSession
    sc = spark.sparkContext

    def _chk(df: DataFrame) -> "tuple[DataFrame, frozenset[int]]":
        before = persistent_rdd_ids(sc)
        out = df.localCheckpoint(eager=False)
        return out, frozenset(persistent_rdd_ids(sc) - before)

    # layout spread before the corpus explode (guide §2.5): the
    # split/explode + map-side combine feeding the vocab shuffle
    # otherwise run as one task on a single-file input; no-op on a
    # many-file corpus
    from ..tables import spread_scan

    vocab = (
        spread_scan(docs.select(F.col("text").alias("_t")))
        .select(F.explode(F.split(F.lower("_t"), r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    # carry the word itself through the rounds only when the caller
    # wants the final state — the plain trainer's frames stay as lean
    # as before
    state_cols = ["w"] if return_vocab_state else []
    seqs, cur_ids = _chk(
        vocab.select(
            *state_cols,
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias(
                "syms"
            ),
            "wf",
        )
    )
    prev_ids: frozenset[int] = frozenset()
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rnd in range(1, n_merges + 1):
            # pairs as (left, right) STRUCTS, not a separator-joined
            # string: merged symbols can contain ANY character, so no
            # separator is collision-free (a symbol containing the
            # separator would corrupt the split). Tie-break is the
            # (left, right) tuple order, mirrored by the pytest
            # reference.
            pairs = seqs.where(F.size("syms") >= 2).select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> named_struct('l', syms[i - 1], 'r', syms[i]))"
                    )
                ).alias("p"),
                "wf",
            )
            top = (
                pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("wf").cast("long").alias("freq"))
                .orderBy(F.desc("freq"), "l", "r")
                .limit(1)
                .collect()
            )
            # the collect materialized the current round's checkpoint;
            # the round before it is now droppable
            unpersist_rdds(sc, prev_ids)
            prev_ids = frozenset()
            if not top:
                break
            left, right = top[0]["l"], top[0]["r"]
            merges.append((rnd, left, right, int(top[0]["freq"])))
            merged = _bpe_merge_step("syms", left, right)
            seqs, new_ids = _chk(
                seqs.select(*state_cols, merged.alias("syms"), "wf")
            )
            prev_ids, cur_ids = cur_ids, new_ids
    except BaseException:
        unpersist_rdds(sc, prev_ids | cur_ids)
        raise
    merge_table = local_frame(spark, merges, "round long, left string, right string, freq long")
    if return_vocab_state:
        # the final round's checkpoint is LAZY and still unmaterialized
        # here — recomputing it later needs the PREVIOUS round's blocks
        # too, so BOTH frames stay tracked until the next query
        # boundary (releasing prev here reproduced
        # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND in the consumer's job)
        track_rdds(prev_ids | cur_ids, sc=sc)
        return merge_table, seqs.select("w", "syms")
    # the returned merge table is a LocalRelation — no symbol frame
    # outlives the trainer (unpersisting a never-materialized lazy
    # checkpoint is a no-op)
    unpersist_rdds(sc, prev_ids | cur_ids)
    return merge_table


def bpe_apply_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize with a LEARNED merge table (the apply half of
    :func:`bpe_learn_merges` — together they are the full no-model
    tokenizer-training loop): each word starts as characters and every
    merge is applied in rank order, greedy left-to-right, exactly as
    the trainer applied it. Returns per-doc token accounting —
    ``(doc_id, n_words, n_chars, n_bpe_tokens)`` — the compression
    artifact a tokenizer change is judged by.

    Scale shape: the merge table is a driver-side constant (tens to
    ~100k entries; here the handful the trainer emits), applied as
    ``n_merges`` chained JVM merge expressions in rank order — one
    projection layer per merge, each the shared
    :func:`_bpe_merge_step` (vectorized neighbor-probe rewrite for
    left != right, the greedy fold for left == right). Practical
    merge-count ceiling: one SELECT layer per merge
    makes logical-plan depth linear in table size, so Catalyst's
    analyzer — not execution — becomes the wall somewhere in the
    low thousands of merges; tables near the ~100k production scale
    need the layering chunked with a periodic ``localCheckpoint``
    lineage cut (the trainer's own per-round discipline), which no
    in-repo caller requires today. The rewrite runs on the
    DISTINCT-word frame (the trainer's own collapse): a word seen a
    billion times is rewritten once and its token count joins back to
    the occurrence stream, so merge work scales with |vocab|, not
    corpus size. The join ships only (word, n_toks)
    pairs — AQE turns it into a broadcast probe whenever the vocab
    fits an executor, leaving the occurrence stream unshuffled; at
    vocabularies past broadcast size it degrades to a narrow
    two-column shuffle, never a body shuffle. Python never touches a
    row either way.

    The corpus is deliberately scanned TWICE (once building the
    distinct vocab, once as the join probe): both passes are the
    narrow split/explode projection, and persisting the exploded
    occurrence stream to save the second pass would cache a
    corpus-sized frame — the span_dup_stats trade, decided the same
    way: two narrow parquet passes beat a corpus-sized cache."""
    syms = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    words = _bpe_words(docs)
    # one SELECT LAYER per merge, each referencing the previous
    # symbol column as an attribute: the vectorized
    # _bpe_merge_step probes its input array three times (transform
    # source + two neighbor F.get lookups), so composing merges as one
    # nested expression would triplicate the whole subtree per rank —
    # 3^n_merges analyzer work. As layered projections each level is
    # analyzed once, and CollapseProject leaves them alone (the
    # producer column is non-cheap and referenced three times).
    vocab_toks = words.select("w").distinct().select("w", syms.alias("_s"))
    for left, right in merges:
        # the trainer's own merge semantics, rank order (see
        # _bpe_merge_step for the vectorized/fold split)
        vocab_toks = vocab_toks.select(
            "w", _bpe_merge_step("_s", left, right).alias("_s")
        )
    vocab_toks = vocab_toks.select(
        "w", F.size("_s").cast("long").alias("n_toks")
    )
    return _bpe_doc_stats(words, vocab_toks)


def _bpe_words(docs: DataFrame) -> DataFrame:
    """The occurrence stream both tokenizer paths probe: (id, word),
    normalized exactly like the trainer's vocabulary (lowercase,
    whitespace split, empties dropped). Layout-spread first (guide
    §2.5): the split/explode projection — and the join probe plus the
    per-doc partial aggregation under an AQE broadcast — otherwise run
    as one scan task on a single-file input; no-op on a many-file
    corpus."""
    from ..tables import spread_scan

    return (
        spread_scan(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .where(F.col("w") != "")
    )


def _bpe_doc_stats(words: DataFrame, vocab_toks: DataFrame) -> DataFrame:
    """Per-doc token accounting from the occurrence stream and a
    (w, n_toks) vocabulary — the shared probe half of both tokenizer
    paths. The join ships only (word, n_toks) pairs; AQE broadcasts
    the vocab whenever it fits an executor, leaving the occurrence
    stream unshuffled."""
    per_word = words.join(vocab_toks, "w").select(
        "doc_id", "n_toks", F.length("w").alias("n_chars")
    )
    return per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_toks").cast("long").alias("n_bpe_tokens"),
    )


def bpe_train_and_tokenize(
    docs: DataFrame,
    n_merges: int = 8,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges and tokenize the SAME corpus with
    them, in one composition — result-identical to
    ``bpe_apply_merges(docs, [learned merges])`` but without the
    tokenizer's vocabulary rewrite: the trainer's final symbol frame
    already IS the vocabulary with every merge applied (guide
    §1.2 — the previous composition re-ran the distinct-vocab scan
    plus one merge projection layer per rank, the single biggest stage
    of the learn-then-tokenize query, to recompute state the trainer
    had just discarded). Token counts come straight from
    ``size(syms)`` of the trainer state; only the occurrence-stream
    probe pass is paid on top of training.

    ``bpe_apply_merges`` remains THE tokenizer for a shipped merge
    table over a different corpus; this composition exists for the
    train-and-evaluate-on-the-training-corpus shape, where vocabulary
    equality makes the reuse exact (identity pinned by
    tests/test_textops_props.py::TestBpeTrainAndTokenize against the
    two-step composition)."""
    _, state = bpe_learn_merges(
        docs, n_merges, return_vocab_state=True
    )
    vocab_toks = state.select("w", F.size("syms").cast("long").alias("n_toks"))
    return _bpe_doc_stats(_bpe_words(docs), vocab_toks)
