"""Document deduplication operators (engine extension: training-data
pipeline ops; no analog in the reference, which only dedups user ids
via window state / Bloom filter — UvWithBloomFilter.java:95-155).

All operators are pure DataFrame compositions (JVM-side, codegen'd) —
no Python in the hot path except SimHash (genuinely bit-twiddly →
vectorized Pandas UDF).

Scale design (100 TB of documents):
- exact dedup hashes the text once (md5) and shuffles hash→min(id):
  one shuffle of (16-byte key, id) pairs, never the text bodies;
- n-gram Jaccard is exact but quadratic in the worst case → it prunes
  frequent shingles (stop-shingles) before the self-join, which bounds
  bucket sizes; the production path for unknown corpora is MinHash+LSH;
- MinHash+LSH: k=32 salted SplitMix64 min-signatures over xxhash64
  shingle hashes (vectorized Arrow kernel), b=8 bands × r=4 rows.
  Candidate generation shuffles (band-hash, id) pairs only; exact
  Jaccard verification runs on candidates, not all pairs;
- embedding near-dup joins on a blocking key first (here: the `label`
  cluster id; in production an LSH/IVF cell id) so the cosine check
  never sees the full n² cross product.
"""

import pandas as pd  # noqa: F401 — resolvable type hints for pandas_udf
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SHINGLE_STOP_DF = 200  # prune shingles appearing in more docs than this


def normalized_tokens(
    df: DataFrame, spread: bool = True
) -> DataFrame:
    """Lowercase, whitespace-split token array — shared normalization
    for every text/dedup operator.

    The input is layout-spread first (tables.spread_scan): everything
    downstream of this projection is compute-heavy narrow work (shingle
    HOFs, md5 per shingle) that would otherwise run inside the scan
    stage — one task per input split, i.e. ONE core on an unsplittable
    single-file input regardless of cluster size. On a many-file 100 TB
    corpus the spread is a structural no-op (guide §2.5).

    ``spread=False`` is for CANDIDATE-BOUNDED passes (the exact-
    verification side of the LSH operators): the semi-filter above
    them keeps a handful of rows, so the spread buys no parallelism
    and costs a round-robin exchange plus a near-empty wide stage per
    invocation — pure dispatch overhead, amplified on a contended box
    (flagged on the minhash rows). On a many-file 100 TB
    corpus the spread is a structural no-op either way, so the flag
    only changes small-fixture plans (guide §2.4)."""
    from ..tables import spread_scan

    return (spread_scan(df) if spread else df).withColumn(
        "tokens", F.split(F.lower(F.col("text")), r"\s+")
    )


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup by content hash: keep the smallest id per distinct
    text, report the duplicate count. md5 on the normalized body means
    the shuffle moves 16-byte keys, not documents."""
    return (
        df.select("doc_id", F.md5(F.lower(F.col("text"))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _shingle_expr(n: int) -> str:
    """SQL expression for the word-n-gram array over ``tokens``.

    Docs with fewer than n tokens (including empty/null text) have no
    shingles and must short-circuit to an empty array: without the
    guard, ``sequence(1, size - (n-1))`` with size <= n-1 produces a
    DESCENDING sequence ending at <= 0 and ``slice(tokens, 0, n)``
    aborts the whole job with INVALID_PARAMETER_VALUE.START."""
    return f"""
      CASE WHEN tokens IS NULL OR size(tokens) < {n} THEN array()
           ELSE transform(sequence(1, size(tokens) - {n - 1}),
                          i -> concat_ws(' ', slice(tokens, i, {n})))
      END
    """


def shingles(df: DataFrame, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) exploded word n-grams, distinct per doc.

    Distinctness is per-ROW (`array_distinct` before the explode), so
    the frame is narrow — no shuffle. A global `.distinct()` would be
    semantically identical ((id, shingle) pairs are already unique
    after the per-doc dedup) but costs a corpus-wide shuffle every
    downstream consumer pays for."""
    expr = f"array_distinct({_shingle_expr(n)})"
    return normalized_tokens(df).select(
        id_col, F.explode(F.expr(expr)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    stop_df: int = SHINGLE_STOP_DF,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥
    threshold), where the reported ``jaccard`` is a LOWER BOUND on the
    true Jaccard: stop-shingle pruning (document frequency > stop_df)
    bounds the self-join fan-out, so the intersection counts only rare
    shingles while the denominator uses the full shingle-set sizes —
    |rare ∩| / |full ∪| ≤ |∩| / |∪|.

    Consequences (deliberate precision/recall trade):
    - every emitted pair is guaranteed to satisfy the threshold on its
      TRUE Jaccard (no false positives from the pruning);
    - a pair witnessed mainly by frequent shingles can be silently
      missed (recall loss) — tests/test_properties.py documents the
      construction. Raise ``stop_df`` (or inspect
      :func:`shingle_prune_stats`) when the corpus has heavy shingle
      reuse; MinHash+LSH is the production path for unknown corpora."""
    pairs = _shared_key_pairs(shingles(df, "doc_id", n), "doc_id", "shingle", stop_df)
    return (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shared_key_pairs(
    items: DataFrame, id_col: str, key_col: str, stop_df: int
) -> DataFrame:
    """The bucket-pairing plan shared by :func:`ngram_jaccard_pairs`,
    :func:`containment_pairs` and
    :func:`~flink_kafka_spark.operators.text.winnow_overlap_pairs`:
    every unordered pair ``(id_a < id_b)`` of ids that share a
    ``key_col`` value of ``items (id_col, key_col)``, unique per (id,
    key), with ``n_inter`` = the shared keys counted over keys held by
    at most ``stop_df`` ids, and ``size_a`` / ``size_b`` = each id's
    FULL key count. Callers score from these three columns."""
    from ..caching import track

    # lazy cache, two consumers (sizes + buckets): the first stage to
    # run fills it and the block-manager's per-block locks make the
    # concurrent second wait-and-read — an eager count() would only
    # spend an extra job (same pattern as the MinHash sets persist)
    items = track(items.cache())
    # sizes persists too: it joins the pair frame TWICE (the
    # id_a and id_b renames), and the rename above the aggregate
    # defeats exchange reuse — unpersisted, each side re-scanned the
    # corpus-sized item cache and re-ran the groupBy for a frame that
    # is one narrow row per id (the signature-table class)
    sizes = track(
        items.groupBy(id_col).agg(F.count(F.lit(1)).alias("n")).persist()
    )
    # Intersection counts via single-shuffle bucket pairing (the same
    # shape as the MinHash band buckets): group each key's ids, drop
    # stop-key buckets (df > stop_df) BEFORE any fan-out, stream
    # ordered pairs out of the sorted id array with nested generators
    # (peak memory O(bucket), bounded by stop_df), then count shared
    # keys per pair. The previous formulation (per-key df groupBy +
    # join back + a×b self-join) shuffled the corpus-sized (id, key)
    # frame three times for the same pair multiset.
    buckets = (
        items.groupBy(key_col)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= stop_df))
    )
    inter = (
        buckets.select("ids", F.posexplode("ids").alias("_i", "id_a"))
        .select("id_a", F.expr("explode(slice(ids, _i + 2, size(ids)))").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "size_a")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "size_b")
    # no broadcast hint on the sizes joins: sizes is one row per id
    # (corpus-sized at scale) while inter is the near-dup pair set
    # (small) — AQE broadcasts the pair side when it fits
    return inter.join(sa, "id_a").join(sb, "id_b")


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    stop_df: int = SHINGLE_STOP_DF,
) -> DataFrame:
    """Directed n-gram containment pairs: C = |A ∩ B| / min(|A|, |B|)
    ≥ threshold, one row per unordered pair (id_a < id_b) with the
    sizes of both shingle sets so the caller can tell which side is
    the contained one. Containment catches the case symmetric Jaccard
    structurally misses: a short document quoted inside a much longer
    one (the union is dominated by the long doc, so Jaccard ≈
    |short|/|long| → 0 while containment ≈ 1). This is the standard
    quote/subset detector run alongside Jaccard dedup on crawl corpora
    (cf. Broder's containment coefficient).

    Same single-shuffle bucket-pairing plan as
    :func:`ngram_jaccard_pairs` (shared ``shingles`` scan, stop-shingle
    pruning before any fan-out), and the same lower-bound trade: the
    intersection counts only rare shingles (document frequency ≤
    stop_df) while min(|A|, |B|) uses the full set sizes, so the
    reported containment is a lower bound on the true value — emitted
    pairs are guaranteed ≥ threshold, pairs witnessed mainly by
    frequent shingles can be missed.

    Scale (100 TB): shuffle keys are shingles and (id_a, id_b) pairs,
    never bodies; per-bucket fan-out is bounded by stop_df; the sizes
    join is doc-count-sized on the build side but pair-sized on the
    probe side, and AQE broadcasts the pair side when it fits —
    identical shape to the Jaccard twin, no new scale surface."""
    pairs = _shared_key_pairs(shingles(df, "doc_id", n), "doc_id", "shingle", stop_df)
    # floor-based round-half-up: n_inter/min(sizes) lands exactly on
    # decimal half-points (e.g. 1/2), where Spark's and DuckDB's
    # round() diverge (same convention as source_overlap_matrix)
    return (
        pairs.withColumn(
            "containment",
            F.expr("floor(n_inter / least(size_a, size_b) * 1000000 + 0.5) / 1000000"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "size_a", "size_b", "n_inter", "containment")
    )


def shingle_prune_stats(
    df: DataFrame, n: int = 3, stop_df: int = SHINGLE_STOP_DF
) -> DataFrame:
    """1-row visibility companion to :func:`ngram_jaccard_pairs`: how
    much the stop-shingle heuristic actually prunes on this corpus —
    distinct shingles dropped, and the fraction of (doc, shingle)
    occurrences those carried. A high ``occurrence_pruned_frac`` means
    the lower-bound jaccard is loose and ``stop_df`` should be raised."""
    sh = shingles(df, "doc_id", n)
    per = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    return per.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("df_") > stop_df).cast("long")).alias("n_stop_shingles"),
        F.round(
            F.sum(F.when(F.col("df_") > stop_df, F.col("df_")).otherwise(0))
            / F.sum("df_"),
            6,
        ).alias("occurrence_pruned_frac"),
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Cross-source n-gram overlap matrix — the crawl-overlap
    diagnostic run before merging corpora: for every pair of sources,
    how many distinct word n-grams they share, plus the Jaccard of
    their shingle vocabularies. Output ``(source_a, source_b,
    n_shared_shingles, jaccard)``, one row per unordered pair with any
    overlap (source_a < source_b). High-Jaccard pairs are the same
    crawl twice under different names; near-zero pairs are genuinely
    disjoint corpora.

    Scale design (100 TB): shingles leave the scan as md5 hashes and
    the first shuffle is a map-side-combined ``collect_set(group)``
    per shingle hash — the per-shingle state is bounded by the SOURCE
    count (tens-to-thousands), never the doc count, so there is no
    corpus self-join anywhere. Pair counts AND per-source vocabulary
    sizes come out of ONE explode + aggregation over the per-shingle
    frame: each shingle emits its unordered source pairs (a, b) plus
    one (g, NULL) marker per member source, so a single count shuffle
    yields pair rows where b is set and size rows where it is NULL.
    The corpus is therefore scanned and shingle-shuffled exactly ONCE
    (previously once per branch — measured 2x the whole operator's
    cost at sf0.1); the only persisted frame is the aggregated result,
    bounded by |sources|² + |sources| rows, never corpus-sized.

    Contract: ``group_col`` values must be NON-NULL — NULL is the
    internal pair/size marker in the combined aggregation, so a NULL
    source would corrupt the split. Coalesce to a sentinel (or filter)
    before calling if the column is nullable."""
    from ..caching import track

    expr = f"array_distinct({_shingle_expr(n)})"
    per_sh = (
        normalized_tokens(df)
        .select(F.col(group_col).alias("grp"), F.explode(F.expr(expr)).alias("shingle"))
        .select("grp", F.md5("shingle").alias("sh"))
        .groupBy("sh")
        .agg(F.sort_array(F.collect_set("grp")).alias("grps"))
    )
    # unordered pairs from each shingle's sorted source set (the slice
    # starts after g's own position so a < b by construction), plus a
    # (g, NULL) membership marker per source for the size counts
    combined_expr = (
        "concat("
        " flatten(transform(grps, (g, i) ->"
        "  transform(slice(grps, i + 2, size(grps)),"
        "  h -> struct(g AS a, h AS b)))),"
        " transform(grps, g -> struct(g AS a, cast(null AS string) AS b)))"
    )
    combined = track(
        per_sh.select(F.explode(F.expr(combined_expr)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    # materialize HERE, not at the callers: the three downstream
    # branches (pairs + two broadcast size joins) otherwise race the
    # lazy cache's block locks inside one job and effectively re-run
    # the corpus pass in parallel (the measured ~2x this operator's
    # single-scan rewrite exists to eliminate). The frame is the
    # aggregated |sources|² + |sources| result — counting it costs the
    # one pass that was due anyway.
    combined.count()
    pairs = combined.where(F.col("b").isNotNull()).select(
        F.col("a").alias("source_a"),
        F.col("b").alias("source_b"),
        F.col("c").alias("n_shared_shingles"),
    )
    sizes = combined.where(F.col("b").isNull()).select(
        F.col("a").alias("grp"), F.col("c").alias("n_shingles")
    )
    # floor-based round-half-up: shared/(|A|+|B|-shared) is a rational
    # that can land exactly on a decimal half-point, where Spark's and
    # DuckDB's round() diverge (same convention as repetition_stats)
    return (
        pairs.join(F.broadcast(sizes.withColumnRenamed("grp", "source_a")), "source_a")
        .withColumnRenamed("n_shingles", "_na")
        .join(F.broadcast(sizes.withColumnRenamed("grp", "source_b")), "source_b")
        .withColumnRenamed("n_shingles", "_nb")
        .select(
            "source_a",
            "source_b",
            "n_shared_shingles",
            F.expr(
                "floor(n_shared_shingles / (_na + _nb - n_shared_shingles)"
                " * 1000000 + 0.5) / 1000000"
            ).alias("jaccard"),
        )
    )


def shingle_sets(
    df: DataFrame, id_col: str, n: int = 3, spread: bool = True
) -> DataFrame:
    """(id, shingle_arr) — the distinct word-n-gram set per doc as one
    array column, built without any shuffle: array_distinct over the
    per-row n-gram transform (a narrow map), not explode+groupBy.
    Docs with fewer than n tokens get an empty array (see
    :func:`_shingle_expr`). ``spread`` threads through to
    :func:`normalized_tokens` for callers that pre-spread the frame."""
    expr = f"array_distinct({_shingle_expr(n)})"
    return normalized_tokens(df, spread=spread).select(
        id_col, F.expr(expr).alias("shingle_arr")
    )


def _splitmix64(i: int) -> int:
    """Deterministic 64-bit mix (SplitMix64 finalizer) for per-
    permutation affine constants — pure Python, evaluated at plan time."""
    z = (i + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _salted_min_sigs(hash_arr, k: int):
    """Vectorized k-permutation MinHash over a batch of per-doc hash
    arrays: flatten the ragged batch once, then for each of k salts run
    the SplitMix64 finalizer over (h XOR salt) and segment-minimum back
    to one value per doc (``np.minimum.reduceat``). Returns
    ``(nz_mask, sigs)`` where ``sigs`` is (n_nonempty, k) uint64 —
    empty docs (no shingles) are excluded and must be handled by the
    caller.

    Why a numpy kernel and not SQL higher-order functions: k=32
    unrolled ``array_min(transform(...))`` columns made Catalyst
    analysis+optimization the dominant cost of the whole LSH query
    (~1 s of driver time per invocation), and ``transform`` evaluates
    its lambda interpreted, per element. One Arrow batch transfer of
    the already-hashed longs + flat uint64 vector ops is faster on
    both sides and keeps the plan tree tiny. Same
    pattern as the SimHash kernel below."""
    import numpy as np

    lens = hash_arr.map(len).to_numpy()
    nz = lens > 0
    n_nz = int(nz.sum())
    sigs = np.empty((n_nz, k), dtype=np.uint64)
    if n_nz:
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in hash_arr[nz]]
        ).astype(np.uint64)
        seg_lens = lens[nz]
        starts = np.cumsum(seg_lens) - seg_lens
        salts = np.array([_splitmix64(i) for i in range(k)], dtype=np.uint64)
        for i in range(k):
            z = flat ^ salts[i]
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            z = z ^ (z >> np.uint64(31))
            sigs[:, i] = np.minimum.reduceat(z, starts)
    return nz, sigs


def _band_hashes_udf(k: int, bands: int):
    """Arrow kernel: per doc, the ``bands`` LSH band keys directly —
    FNV-1a folded over each band's r=k/bands MinHash values — skipping
    signature materialization entirely. Empty docs return an EMPTY
    array: they have no shingles, so any pair involving one has
    undefined (0/0) Jaccard and could never pass verification — not
    banding them at all removes their quadratic bucket blow-up."""
    r = k // bands

    @F.pandas_udf("array<long>")
    def band_udf(hash_arr: pd.Series) -> pd.Series:
        import numpy as np

        nz, sigs = _salted_min_sigs(hash_arr, k)
        n_nz = sigs.shape[0]
        bh = np.full((n_nz, bands), np.uint64(0xCBF29CE484222325), dtype=np.uint64)
        for b in range(bands):
            for j in range(r):
                bh[:, b] = (bh[:, b] ^ sigs[:, b * r + j]) * np.uint64(0x100000001B3)
        signed = bh.view(np.int64)
        out = [[] for _ in range(len(hash_arr))]
        for row_i, doc_i in enumerate(np.flatnonzero(nz)):
            out[doc_i] = signed[row_i].tolist()
        return pd.Series(out)

    return band_udf


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified with exact
    Jaccard. b=bands bands of r=k/bands rows: a pair collides in ≥1
    band with prob 1-(1-j^r)^b (~0.88 at j=0.5 for b=8, r=4).

    Only (band-hash, id) pairs shuffle for candidate generation; exact
    verification re-derives shingle sets for candidate ids only.

    ``max_bucket`` bounds the quadratic pair OUTPUT of a pathological
    band bucket (the fuzzy join's
    ``max_block`` is the sibling discipline): peak MEMORY was already
    O(bucket) via the generator enumeration below, but a boilerplate
    mega-bucket — 10⁵ copies of the same cookie banner hashing into
    one (band, band_hash) — still emitted O(bucket²) candidate pairs.
    With the cap, a bucket of size H > max_bucket switches from
    all-pairs to SORTED-NEIGHBORHOOD enumeration: each id pairs with
    its next ``w = max(1, max_bucket²/(2H))`` neighbors in the sorted
    id array, keeping the bucket's pair budget at ~max_bucket²/2 (what
    a just-at-cap bucket costs) with a floor of the adjacency chain.
    No member is dropped and the chain keeps the bucket CONNECTED, so
    downstream connected-component canonicalization collapses the
    boilerplate cluster exactly as the uncapped pair set would — what
    the cap trades away is only non-adjacent direct edges inside the
    oversized bucket (transitively recovered post-verification when
    the bucket really is near-identical text). Buckets at or under
    the cap are enumerated exactly; ``None`` (default) disables the
    cap, so registered-oracle outputs are unchanged. At 100 TB, set it
    (e.g. 1000) — an uncapped web crawl WILL contain mega-buckets.
    Audit which buckets were capped via the companion
    ``shingle_prune_stats``-style sweep: ``_lsh_bands(...).groupBy(
    "band", "band_hash").count().filter(F.col("count") > cap)``.
    """
    from pyspark.storagelevel import StorageLevel

    from ..caching import track

    # ONE full tokenize+minhash pass over the corpus (narrow apart
    # from the small-scan fan-out gate, now tables.spread_scan inside
    # normalized_tokens: on the banding pass it spreads the raw scan;
    # on the verification pass below it sits ABOVE the broadcast semi
    # filter, so only the surviving candidate rows are exchanged —
    # never full corpus text shuffled to keep almost nothing),
    # consumed exactly once by the band bucketing below — so nothing
    # corpus-sized is ever persisted and there is no multi-consumer
    # cache race (the previous shape persisted
    # (id, shingle_arr, signature) and paid a whole extra eager-count
    # pass just to fill the cache). The salted-min + band fold runs in
    # the Arrow kernel (see :func:`_band_hashes_udf`).
    banded = _lsh_bands(df, "doc_id", "doc_id", n, k, bands)
    # Candidate pairs via ONE shuffle: group each (band, band_hash)
    # bucket, then stream ordered pairs out of the sorted id array with
    # two nested generators (posexplode + explode(slice)) — generator
    # semantics keep peak memory O(bucket), never O(bucket²), while the
    # pair OUTPUT is the same set the old banded self-join produced
    # with two shuffles of the same table.
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
        # per-id neighborhood width: full enumeration at/under the cap,
        # budget-preserving window (floor 1 = the connectivity chain)
        # above it — all inside codegen, no extra pass or shuffle
        width = F.when(
            F.size("ids") <= max_bucket, F.size("ids")
        ).otherwise(
            F.greatest(
                F.lit(1),
                F.floor(F.lit(max_bucket * max_bucket) / (2 * F.size("ids"))),
            )
        )
        buckets = buckets.withColumn("_w", width.cast("int"))
    else:
        buckets = buckets.withColumn("_w", F.size("ids"))
    pairs = buckets.select(
        "ids", "_w", F.posexplode("ids").alias("_i", "id_a")
    ).select("id_a", F.expr("explode(slice(ids, _i + 2, _w))").alias("id_b"))
    # Candidates are tiny relative to the corpus (that is the point of
    # LSH); cache them because two consumers follow (the id-set
    # broadcast + the verification join), and the broadcast exchange
    # materializes first, filling the cache for the probe side.
    candidates = track(pairs.distinct().persist(StorageLevel.MEMORY_AND_DISK))
    # Exact verification on candidates only: re-derive shingle sets for
    # JUST the candidate docs — a broadcast LEFT SEMI filter on the
    # corpus scan (ids only, no shuffle; semi join tolerates duplicate
    # build-side ids, so no distinct shuffle either) followed by
    # tokenization of the surviving handful of rows. Re-tokenizing the
    # tiny candidate set is far cheaper than persisting corpus-wide
    # shingle arrays. The candidates-only `sets` frame is itself
    # persisted because TWO consumers follow (the id_a and id_b
    # broadcast builds): without the persist the corpus scan +
    # candidate tokenization subtree ran twice (once the single
    # normalized regression in the suite). The persist is
    # lazy on purpose — the first broadcast build fills the cache and
    # the block-manager's per-block locks make a concurrent second
    # build wait-and-read, so an eager count() would only add a job.
    cand_ids = candidates.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
    sets = track(
        shingle_sets(
            df.join(F.broadcast(cand_ids), "doc_id", "left_semi"),
            "doc_id",
            n,
            # NO layout spread on the verification pass: it is
            # candidate-bounded by construction — the semi-filter keeps
            # a handful of rows — so a spread would buy no
            # parallelism and cost a round-robin exchange plus a
            # near-empty 32-task stage per invocation, exactly the
            # dispatch-overhead shape a contended driver box amplifies.
            # On a many-file 100 TB corpus the spread is a no-op either
            # way, so this changes nothing at scale.
            spread=False,
        )
        .select(F.col("doc_id").alias("_sid"), "shingle_arr")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return (
        candidates.join(sets.select(F.col("_sid").alias("id_a"), F.col("shingle_arr").alias("arr_a")), "id_a")
        .join(sets.select(F.col("_sid").alias("id_b"), F.col("shingle_arr").alias("arr_b")), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("arr_a") + F.size("arr_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def span_dup_stats(
    df: DataFrame,
    n: int = 10,
    stride: int = 1,
) -> DataFrame:
    """Span-level exact-substring dedup stats (the duplicated-n-gram
    family of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", at word granularity): per doc, how many of its
    n-token spans occur VERBATIM in at least one OTHER doc, plus the
    duplicated fraction. Doc-level near-dup (MinHash/Jaccard) misses
    partial duplication — a unique page wrapping a boilerplate block —
    which is exactly what span stats surface; filtering or trimming on
    ``dup_frac`` is the policy knob.

    Output: (id, n_spans, n_dup_spans, dup_frac) for every doc; docs
    shorter than n tokens have 0 spans and dup_frac 0.0. A span is
    counted per POSITION (a doc repeating a duplicated span twice
    contributes 2 to n_dup_spans), and "duplicated" means the span text
    occurs in >1 DISTINCT doc — within-doc repetition alone is the
    repetition_stats operator's business, not this one's.

    Scale design (100 TB): spans leave the scan as md5 hashes — 32-char
    keys, never span text — so the shuffles move (hash, id, count)
    triples: one groupBy (span_h, id) with map-side combine collapses
    per-doc repeats, one window over span_h counts the docs sharing a
    span, one groupBy id rolls up. The corpus is scanned twice (the
    narrow n_spans projection and the explode branch) — two narrow
    parquet passes beat persisting an exploded corpus. Span count is
    ~tokens/stride; ``stride`` > 1 trades detection granularity for
    proportionally less explode volume (stride=n tiles the doc), the
    standard production lever.
    """
    from pyspark.sql import Window

    if n < 1 or stride < 1:
        raise ValueError(f"n and stride must be >= 1 (got n={n}, stride={stride})")
    toks = normalized_tokens(df)
    span_expr = f"""
      CASE WHEN tokens IS NULL OR size(tokens) < {n} THEN array()
           ELSE transform(sequence(1, size(tokens) - {n - 1}, {stride}),
                          i -> md5(concat_ws(' ', slice(tokens, i, {n}))))
      END
    """
    # span COUNT is pure arithmetic on the token count — size() over the
    # transform above would compute (and discard) every slice+md5 a
    # second time in this branch's corpus pass
    base = toks.select(
        "doc_id",
        F.when(
            F.size("tokens") >= n,
            F.floor((F.size("tokens") - n) / stride) + 1,
        )
        .otherwise(0)
        .cast("long")
        .alias("n_spans"),
    )
    occ = (
        toks.select("doc_id", F.explode(F.expr(span_expr)).alias("span_h"))
        .groupBy("span_h", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    dup = (
        occ.withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("span_h")))
        .filter(F.col("nd") > 1)
        .groupBy("doc_id")
        .agg(F.sum("n_occ").cast("long").alias("n_dup_spans"))
    )
    # doc-level left join: both sides are one row per doc; AQE picks
    # the strategy (dup side is usually the small fraction)
    # floor-half-up, not round(): k/n_spans lands exactly on a 6-dp
    # half-point whenever n_spans has a 2^7 factor with odd k (e.g.
    # n_spans=128), where Spark's HALF_UP and DuckDB's round() diverge
    # — the containment_pairs / source_overlap_matrix convention
    return base.join(dup, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.when(
            F.col("n_spans") > 0,
            F.expr(
                "floor(coalesce(n_dup_spans, 0) / n_spans * 1000000 + 0.5)"
                " / 1000000"
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def trim_duplicated_spans(
    df: DataFrame,
    n: int = 10,
) -> DataFrame:
    """The corpus-EDITING step of substring dedup (Lee et al.'s
    remove-duplicated-substrings policy at word granularity): delete
    from every doc the token regions covered by n-token spans that
    also occur verbatim in another doc — except in the span's OWNER
    (the lowest doc_id containing it), which keeps its occurrences, so
    each duplicated passage survives exactly once corpus-wide.

    Output: (id, n_tokens, n_removed_tokens, cleaned_text) for every
    doc. ``cleaned_text`` is rebuilt from the NORMALIZED tokens
    (lowercase, single-space — the same normalization every dedup
    operator here shares), with covered regions excised; docs shorter
    than n tokens pass through untouched (normalized).

    Scale design (100 TB): the only corpus-sized shuffles move
    (md5-hash, id, position) triples — span text never leaves the scan.
    Ownership is one min() over the span hash; each non-owner doc's
    duplicated positions come back as ONE array per doc (collect_list
    after the span_h shuffle, bounded by tokens/doc), and the
    interval-union + excision runs as JVM higher-order expressions:
    sorted positions fold into merged (start, end) islands via
    ``aggregate`` (O(positions) per doc), token filtering tests
    membership against ISLANDS (few after merging), not raw positions.
    The rebuild joins the per-doc position arrays back onto the narrow
    token projection — a doc-keyed equi-join AQE can broadcast when the
    duplicated fraction is small.
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    toks = normalized_tokens(df)
    span_pos_expr = f"""
      CASE WHEN tokens IS NULL OR size(tokens) < {n} THEN array()
           ELSE transform(sequence(1, size(tokens) - {n - 1}),
                          i -> struct(i AS pos,
                                      md5(concat_ws(' ', slice(tokens, i, {n}))) AS span_h))
      END
    """
    spans = toks.select(
        "doc_id", F.explode(F.expr(span_pos_expr)).alias("sp")
    ).select("doc_id", F.col("sp.pos").alias("pos"), F.col("sp.span_h").alias("span_h"))
    w = Window.partitionBy("span_h")
    # owner = lowest doc id sharing the span (min over the raw
    # occurrence rows — duplicates don't affect min). doc != owner by
    # itself PROVES cross-doc duplication (the owner is a different
    # doc), so no distinct-doc count is needed: this replaces an
    # earlier collect_set-per-row formulation that was
    # O(docs²) per hot boilerplate span — min() is constant-state.
    # Within-doc-only repetition never trims: its only doc IS the owner.
    flagged = spans.select(
        "doc_id",
        "pos",
        F.min("doc_id").over(w).alias("owner"),
    ).filter(F.col("doc_id") != F.col("owner"))
    merge_expr = f"""
      aggregate(
        array_sort(pos_arr),
        cast(array() as array<struct<s int, e int>>),
        (acc, p) -> IF(size(acc) > 0 AND p <= element_at(acc, -1).e + 1,
                       concat(slice(acc, 1, size(acc) - 1),
                              array(named_struct('s', element_at(acc, -1).s,
                                                 'e', greatest(element_at(acc, -1).e,
                                                               p + {n - 1})))),
                       concat(acc, array(named_struct('s', p, 'e', p + {n - 1})))))
    """
    per_doc = (
        flagged.groupBy("doc_id")
        .agg(F.collect_list("pos").alias("pos_arr"))
        .select("doc_id", F.expr(merge_expr).alias("islands"))
    )
    base = toks.select("doc_id", "tokens")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.size("tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(
            F.expr("aggregate(islands, 0, (acc, r) -> acc + r.e - r.s + 1)"), F.lit(0)
        )
        .cast("long")
        .alias("n_removed_tokens"),
        F.when(F.col("islands").isNull(), F.concat_ws(" ", F.col("tokens")))
        .otherwise(
            F.expr(
                "concat_ws(' ', transform(filter("
                "  transform(tokens, (t, i) -> struct(t AS t, i + 1 AS i)),"
                "  x -> NOT exists(islands, r -> x.i >= r.s AND x.i <= r.e)), x -> x.t))"
            )
        )
        .alias("cleaned_text"),
    )


def _lsh_bands(
    df: DataFrame,
    id_col: str,
    out_id: str,
    n: int,
    k: int,
    bands: int,
    spread: bool = True,
) -> DataFrame:
    """The shared banding pass: ``(out_id, band, band_hash)`` per doc.
    The small-scan fan-out gate lives in
    ``tables.spread_scan`` and runs inside
    :func:`normalized_tokens` — one copy of the layout probe for EVERY
    tokenize-heavy operator, same placement for this pipeline (the
    exchange still precedes the shingle/minhash fan-out; keeping a
    second gate here would stack a redundant exchange on top).
    ``spread=False`` for callers that pre-spread (see
    :func:`normalized_tokens`)."""
    return (
        shingle_sets(df, id_col, n, spread=spread)
        .withColumn("hash_arr", F.expr("transform(shingle_arr, s -> xxhash64(s))"))
        .select(
            F.col(id_col).alias(out_id),
            F.posexplode(_band_hashes_udf(k, bands)("hash_arr")).alias(
                "band", "band_hash"
            ),
        )
    )


def build_dedup_index(
    reference: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The reference-side LSH index for :func:`incremental_dedup`:
    ``(band, band_hash, ref_id)`` — one row per (doc, band). In
    production this is computed ONCE per corpus snapshot and written
    out via ``io.write_bucketed(index, ..., ["band", "band_hash"])``;
    pass the loaded table back via ``ref_index=`` and the nightly cost
    becomes O(batch) + one join that shuffles ONLY the batch side into
    the index's bucketing — the 100 TB reference is never rescanned or
    re-shuffled (plan-shape-pinned by
    tests/test_io.py::test_bucketed_dedup_index_join_shuffles_batch_side_only).
    The index carries only hashes and ids: ~``bands`` × 16 bytes per
    reference doc.

    The (n, k, bands) parameters are baked into the index values; use
    the same ones when querying it."""
    return _lsh_bands(reference, "doc_id", "ref_id", n, k, bands).select(
        "band", "band_hash", "ref_id"
    )


def incremental_dedup_matches(
    batch: DataFrame,
    reference: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    ref_index: "DataFrame | None" = None,
) -> DataFrame:
    """Cross-snapshot near-dup MATCHES: (batch_id, ref_id, jaccard) for
    every batch doc whose exact n-gram Jaccard against a reference doc
    reaches ``threshold``, candidates generated by MinHash-LSH band
    collision BETWEEN the two corpora (never within either side). This
    is the core of incremental dedup — dedup tonight's crawl against
    the corpus you already trained on — where re-running all-corpus
    dedup from scratch would reprocess the (much larger) reference.

    Scale design (100 TB reference, small-ish batch): both sides shed
    everything but (band, band_hash, id) before the only corpus-sized
    shuffle — the band equi-join. The reference banding is recomputed
    here when ``ref_index`` is None (self-contained small-corpus path);
    the production path passes a stored :func:`build_dedup_index` frame
    so candidate generation never rescans the reference. Verification
    re-tokenizes CANDIDATE docs only (broadcast semi filter per side),
    exactly like :func:`minhash_lsh_pairs` — the reference scan it
    needs touches only the matched handful of rows.
    """
    from pyspark.storagelevel import StorageLevel

    from ..caching import track

    if ref_index is None:
        ref_index = build_dedup_index(reference, n, k, bands)
    batch_bands = _lsh_bands(batch, "doc_id", "batch_id", n, k, bands)
    candidates = track(
        batch_bands.join(ref_index, ["band", "band_hash"])
        .select("batch_id", "ref_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # NO layout spread on either verification pass (the
    # minhash_lsh_pairs rationale): both are candidate-bounded by the
    # semi-filters, so a per-subtree spread would add two round-robin
    # exchanges and two near-empty 32-task stages per invocation for
    # frames of a few hundred rows — pure dispatch overhead, amplified
    # on a contended box. No-op difference on a many-file corpus.
    b_sets = shingle_sets(
        batch.join(
            F.broadcast(candidates.select(F.col("batch_id").alias("doc_id"))),
            "doc_id",
            "left_semi",
        ),
        "doc_id",
        n,
        spread=False,
    ).select(F.col("doc_id").alias("batch_id"), F.col("shingle_arr").alias("arr_b"))
    r_sets = shingle_sets(
        reference.join(
            F.broadcast(candidates.select(F.col("ref_id").alias("doc_id"))),
            "doc_id",
            "left_semi",
        ),
        "doc_id",
        n,
        spread=False,
    ).select(F.col("doc_id").alias("ref_id"), F.col("shingle_arr").alias("arr_r"))
    return (
        candidates.join(b_sets, "batch_id")
        .join(r_sets, "ref_id")
        .withColumn("n_inter", F.size(F.array_intersect("arr_b", "arr_r")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("arr_b") + F.size("arr_r") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "ref_id", "jaccard")
    )


def incremental_dedup(
    batch: DataFrame,
    reference: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    ref_index: "DataFrame | None" = None,
    matches: "DataFrame | None" = None,
) -> DataFrame:
    """Doc-level incremental dedup verdict: for EVERY batch doc,
    ``is_novel`` (no reference near-dup found), how many reference docs
    it near-duplicates, and the best (highest, tie low ref id) match.
    ``WHERE is_novel = 1`` is the batch a pipeline appends to the
    corpus. Wraps :func:`incremental_dedup_matches` (pass a stored
    :func:`build_dedup_index` via ``ref_index`` on the production path,
    or an already-computed ``matches`` frame to skip the pipeline
    entirely); the rollup is one batch_id shuffle over MATCHES only,
    then a broadcast-friendly left join back onto the batch ids."""
    if matches is None:
        matches = incremental_dedup_matches(
            batch, reference, n, k, bands, threshold, ref_index=ref_index
        )
    per = matches.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ref_dups"),
        F.max("jaccard").alias("best_jaccard"),
        F.min_by(F.col("ref_id"), F.struct(-F.col("jaccard"), F.col("ref_id"))).alias(
            "best_ref_id"
        ),
    )
    return (
        batch.select(F.col("doc_id").alias("batch_id"))
        .join(per, "batch_id", "left")
        .select(
            F.col("batch_id").alias("doc_id"),
            (F.col("n_ref_dups").isNull()).cast("int").alias("is_novel"),
            F.coalesce(F.col("n_ref_dups"), F.lit(0)).cast("long").alias("n_ref_dups"),
            "best_ref_id",
            "best_jaccard",
        )
    )


def simhash(df: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash per doc from unigram token hashes, computed as a
    vectorized Pandas UDF (bit-parallel numpy; genuinely awkward as SQL
    expressions). Near-dup = small Hamming distance; callers bucket by
    a bit-prefix for the scale path.

    Python touches each DISTINCT token once per batch (md5, memoized —
    corpora repeat tokens heavily); everything after that is numpy:
    the token-hash→±1 bit matrix, the per-doc accumulation, and the
    sign-pack back to one int64. A per-token-per-bit Python loop was
    ~25× slower at sf0.1."""
    @F.pandas_udf("long")
    def _simhash(tokens: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        cache: dict[str, int] = {}
        shifts = np.arange(bits, dtype=np.uint64)
        out = np.zeros(len(tokens), dtype=np.int64)
        for row, toks in enumerate(tokens):
            if toks is None or len(toks) == 0:
                continue
            idx = []
            for t in toks:
                h = cache.get(t)
                if h is None:
                    h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                    cache[t] = h
                idx.append(h)
            harr = np.array(idx, dtype=np.uint64)
            # (T, bits) ±1 matrix → per-bit accumulation → sign pack
            pm = (((harr[:, None] >> shifts) & np.uint64(1)).astype(np.int64) * 2 - 1)
            acc = pm.sum(axis=0)
            v = int(((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
            out[row] = v - (1 << 64) if v >= (1 << 63) else v
        return pd.Series(out)

    return normalized_tokens(df).select("doc_id", _simhash("tokens").alias("simhash"))


def chunked_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    chunk_cols: "list[str]",
    max_hamming: int = 3,
    other: "DataFrame | None" = None,
) -> DataFrame:
    """Shared pigeonhole pair search over a signature table whose hash
    is pre-split into equal-width integer ``chunk_cols``: any pair
    within Hamming ≤ len(chunk_cols) - 1 of the full hash must agree
    EXACTLY on at least one chunk, so bucketing by each chunk is
    complete, never heuristic. Backs :func:`simhash_pairs` (one int64
    split 4×16) and the media perceptual hash (4 int16 columns) — one
    implementation, one set of fixes.

    ``other=None``: pairs WITHIN ``sig`` (``id_a < id_b``).
    ``other`` given: pairs BETWEEN ``sig`` (→ ``id_a``) and ``other``
    (→ ``id_b``, same ``id_col``/``chunk_cols`` schema), never within
    either side — the incremental shape (tonight's batch against the
    stored reference index). No ordering filter applies; callers with
    overlapping id spaces own that semantics. The bucket join carries
    no broadcast hint: either side can be as large as the corpus (the
    registered parity-split query, a backfill run), and a hint is a
    promise AQE can't retract — it would die on the 8 GB broadcast
    ceiling instead of degrading to a shuffle. AQE still broadcasts a
    side that turns out small at runtime.

    Returns (id_a, id_b, hamming) distinct; Hamming = summed
    ``bit_count(xor)`` over the chunk pairs."""
    k = len(chunk_cols)
    if max_hamming > k - 1:
        raise ValueError(
            f"max_hamming={max_hamming}: pigeonhole completeness over {k} "
            f"chunks holds only for max_hamming <= {k - 1}"
        )

    def _explode(frame, side, alias):
        return frame.select(
            F.col(id_col).alias(alias),
            *[F.col(col).alias(f"_{side}{c}") for c, col in enumerate(chunk_cols)],
            F.explode(
                F.array(*[
                    F.struct(F.lit(c).alias("chunk_id"), F.col(col).alias("chunk"))
                    for c, col in enumerate(chunk_cols)
                ])
            ).alias("ch"),
        ).select(alias, *[f"_{side}{c}" for c in range(k)], "ch.chunk_id", "ch.chunk")

    a = _explode(sig, "a", "id_a")
    b = _explode(other if other is not None else sig, "b", "id_b")
    hamming = sum(F.bit_count(F.expr(f"_a{c} ^ _b{c}")) for c in range(k))
    joined = a.join(b, ["chunk_id", "chunk"])
    if other is None:
        joined = joined.filter(F.col("id_a") < F.col("id_b"))
    # Hamming filter BEFORE the pair dedup: a pair colliding in k of
    # the chunks appears k times, so the distinct must shuffle
    # whatever precedes it — filtering first means it shuffles only
    # the true near-dups (tiny) instead of every chunk collision;
    # bit_count on the duplicate rows is trivial map-side CPU.
    return (
        joined.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs. Scale path: bucket on 4 × 16-bit chunks
    (any pair within Hamming ≤ 3 of 64 bits shares at least one exact
    16-bit chunk — pigeonhole) → equi-join per chunk, then exact
    Hamming filter via bit_count(xor); see
    :func:`chunked_hamming_pairs` (max_hamming > 3 now raises — the
    old code silently returned incomplete pairs past the pigeonhole
    bound)."""
    sh = simhash(df).select(
        "doc_id",
        *[
            F.shiftright("simhash", c * 16)
            .bitwiseAND(F.lit(0xFFFF))
            .cast("int")
            .alias(f"sh{c}")
            for c in range(4)
        ],
    )
    return chunked_hamming_pairs(sh, "doc_id", [f"sh{c}" for c in range(4)], max_hamming)


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs within a blocking key (cluster/LSH
    cell): equi-join on the block, JVM-side cosine via zip_with +
    aggregate (no Python). The block join keeps the candidate set
    ~n²/|blocks| instead of n²."""
    v = df.select(
        F.col(id_col),
        F.col(block_col).alias("block"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    a = v.select(F.col(id_col).alias("id_a"), "block", F.col("v").alias("va"))
    b = v.select(F.col(id_col).alias("id_b"), "block", F.col("v").alias("vb"))
    dot = "aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    norm = "sqrt(aggregate(transform({0}, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(F.expr(f"({dot}) / (({norm.format('va')}) * ({norm.format('vb')}))"), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def canonicalize_clusters(
    df: DataFrame,
    edges: DataFrame,
    quality: "F.Column | None" = None,
    skew_safe: bool = False,
    max_iter: int = 25,
) -> DataFrame:
    """The dedup KEEP step: near-dup pairs → connected components →
    per cluster, keep the single best-quality member (ties broken by
    lowest id). Output (id, cluster_id, quality_score, keep) — filter
    ``keep = 1`` for the deduplicated corpus. This replaces the naive
    keep-min-id policy with the policy real training-data pipelines
    use: of N near-identical crawls of a page, retain the best one.

    Scale design: one corpus-narrow quality projection joined onto the
    BROADCAST CC labels, then ONE shuffle on cluster_id for the
    per-cluster rank — near-dup clusters are small (transitive chains
    of high-similarity docs), so the per-partition sort is bounded.

    ``skew_safe=True`` swaps the rank window for a ``min_by``
    aggregation + broadcast winner join: the per-cluster argmax
    becomes a partially-aggregatable (map-side-combined) reduction, so
    a boilerplate-driven mega-cluster — millions of members landing in
    ONE rank-window partition under the default plan — reduces to one
    row per cluster per map partition before the shuffle. Same rows
    out (pinned by a pytest equivalence test including a planted
    mega-cluster); costs one extra scan of the in-graph rows, which is
    why it is opt-in rather than the default.
    """
    from pyspark.sql import Window

    if quality is None:
        from .text import quality_expr

        quality = quality_expr()
    # In-graph labels ONLY (not the corpus-wide union with singletons):
    # the near-dup graph is a tiny fraction of the corpus, so joining
    # quality onto it broadcasts, the rank window shuffles only graph
    # members, and every isolated doc short-circuits to keep=1 with
    # cluster_id = its own id — no corpus-sized cluster_id shuffle at
    # all (the previous union-then-rank plan
    # windowed the whole corpus through 2 stats-less SMJs). The corpus
    # is scanned twice (once per branch) — two narrow parquet scans
    # beat persisting a corpus-sized quality frame at 100 TB. Boundary:
    # if the dup graph itself outgrows broadcast (billions of dups),
    # drop the hints and let AQE pick the strategy.
    labels = _cc_labels(edges, max_iter=max_iter).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    q = df.select(F.col("doc_id"), quality.alias("quality_score"))
    scored = q.join(F.broadcast(labels), "doc_id")
    # ONE rank key shared verbatim by both plans so they cannot diverge
    # on degenerate quality values (min_by's struct
    # ordering sorts a NULL field FIRST ascending while the window's
    # desc ordering put NULLs LAST — a NULL-quality member won under
    # skew_safe and lost under the default; NaN diverged the opposite
    # way, winning desc ordering but losing min_by). Semantics, now
    # explicit: highest quality wins; NULL/NaN quality loses to ANY
    # real quality; all ties (including all-NULL/NaN clusters) break to
    # lowest id. Ascending over (bad-flag, -quality, id) gives exactly
    # that in min_by and window alike.
    _qd = F.col("quality_score").cast("double")
    _q_bad = _qd.isNull() | F.isnan(_qd)
    _rank_key = (
        _q_bad.cast("int"),
        F.when(_q_bad, F.lit(0.0)).otherwise(-_qd),
        F.col("doc_id"),
    )
    if skew_safe:
        # per-cluster argmax as a partial-aggregatable reduction:
        # min_by over the shared rank key — identical semantics to the
        # rank window below by construction. Winners are one row per
        # cluster (bounded by the cluster count, far below the member
        # count for mega-clusters) and broadcast back.
        winners = scored.groupBy("cluster_id").agg(
            F.min_by(F.col("doc_id"), F.struct(*_rank_key)).alias("_win_id")
        )
        in_graph = scored.join(F.broadcast(winners), "cluster_id").select(
            "doc_id",
            "cluster_id",
            "quality_score",
            (F.col("doc_id") == F.col("_win_id")).cast("int").alias("keep"),
        )
    else:
        w = Window.partitionBy("cluster_id").orderBy(
            *[k.asc() for k in _rank_key]
        )
        in_graph = scored.select(
            "doc_id",
            "cluster_id",
            "quality_score",
            (F.row_number().over(w) == 1).cast("int").alias("keep"),
        )
    singletons = q.join(
        F.broadcast(labels.select("doc_id")), "doc_id", "left_anti"
    ).select(
        F.col("doc_id"),
        F.col("doc_id").alias("cluster_id"),
        "quality_score",
        F.lit(1).cast("int").alias("keep"),
    )
    return in_graph.unionByName(singletons)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id),
    cluster_id = min member id. This is the step that turns pairwise
    dedup output into dedupable groups (pick one canonical doc per
    component, drop the rest).

    Hash-to-min label propagation: each round every node takes the min
    label among itself and its neighbors; converges in O(component
    diameter) rounds — near-dup clusters are shallow (transitive chains
    of high-Jaccard docs), so a handful of rounds suffice.

    Scale design (100 TB): only nodes that APPEAR IN AN EDGE enter the
    loop — on a real corpus the near-dup graph is a tiny fraction of
    the documents, and every isolated doc is trivially its own
    singleton cluster (anti-joined back in at the end against the
    BROADCAST label set — the corpus never shuffles). See
    :func:`_cc_labels` for the loop's checkpoint lifecycle.
    """
    in_graph = _cc_labels(edges, src_col, dst_col, max_iter).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    singletons = (
        nodes.select(F.col("doc_id"))
        .join(F.broadcast(in_graph.select("doc_id")), "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return in_graph.unionByName(singletons)


def _cc_labels(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Converged hash-to-min labels ``(node, comp)`` for every node
    that appears in an edge. The iterative core shared by
    :func:`connected_components` and :func:`canonicalize_clusters`.

    The symmetrized edge set is built with a single explode pass (a
    union of two selects would compute the upstream pair pipeline
    twice), pre-partitioned on src and persisted once; per round only
    (node, label) pairs shuffle. LAZY `localCheckpoint` after each
    round truncates the lineage (iterative DataFrame plans grow
    without bound otherwise): the convergence probe's collect() is the
    action that materializes each round's checkpoint, so every round
    costs ONE job instead of two (eager checkpoint + probe). On a
    cluster with unreliable executors use `checkpoint()` to HDFS
    instead. Convergence is detected with a 1-row aggregate on the
    label sum, which is strictly decreasing until fixpoint (labels
    only ever shrink) — no per-round join against the previous labels
    needed.

    Checkpoint lifecycle: localCheckpoint
    persists live in ``sc.getPersistentRDDs()`` where DataFrame
    ``unpersist()``/``clearCache()`` can't reach them, so each round's
    checkpoint RDD ids are captured (the persist registers
    synchronously at the ``localCheckpoint`` call, before any job
    runs) and the PREVIOUS round's blocks are dropped as soon as the
    convergence probe has materialized the new round — the loop holds
    at most two rounds' label blocks at any instant. The FINAL labels
    checkpoint backs the returned frame, so it is registered with
    ``caching.track_rdds`` and released at the next query boundary
    (after the consumer has materialized; re-materializing the frame
    after that requires re-invoking the operator, which every harness
    here does).
    """
    from ..caching import persistent_rdd_ids, track_rdds, unpersist_rdds

    sc = edges.sparkSession.sparkContext

    def _chk(df: DataFrame) -> "tuple[DataFrame, frozenset[int]]":
        before = persistent_rdd_ids(sc)
        out = df.localCheckpoint(eager=False)
        return out, frozenset(persistent_rdd_ids(sc) - before)

    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
                    ),
                    F.struct(
                        F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("src")
        .persist()
    )
    live_ids: frozenset[int] = frozenset()
    try:
        labels, live_ids = _chk(
            sym.select(F.col("src").alias("node")).distinct().withColumn(
                "comp", F.col("node")
            )
        )
        prev_sum = None
        converged = False
        for i in range(max_iter):
            # pointer jumping gated to round >= 3: real near-dup graphs
            # are shallow (diameter <= 4 converges in the plain rounds
            # and never pays the extra self-join shuffle); only a
            # pathological chain (boilerplate mega-cluster) reaches the
            # jumping rounds, which is exactly when the O(diameter)
            # loop (and its hard max_iter fail) needs the help. A
            # jumping round adds L(v) <- L(L(v)): a self-join on comp
            # (every comp is itself an in-graph node, so the left join
            # is total) that doubles the reach per round, O(log
            # diameter) rounds instead of O(diameter) (Kiveris et al.,
            # "Connected Components in MapReduce and Beyond" gets its
            # log bound the same way).
            msgs = sym.join(labels, sym.src == labels.node).select(
                F.col("dst").alias("node"), F.col("comp")
            )
            prop = labels.union(msgs).groupBy("node").agg(F.min("comp").alias("comp"))
            if i >= 2:
                hop = prop.select(
                    F.col("node").alias("via"), F.col("comp").alias("via_comp")
                )
                prop = prop.join(hop, prop.comp == hop.via, "left").select(
                    "node", F.least("comp", F.coalesce("via_comp", "comp")).alias("comp")
                )
            labels, new_ids = _chk(prop)
            # fold the freshly registered checkpoint into the tracked
            # set BEFORE the probe action: localCheckpoint registers
            # its persist synchronously, so if the collect below raises
            # the except handler must release this round's blocks too,
            # not just the previous round's.
            live_ids = live_ids | new_ids
            cur_sum = labels.agg(
                F.sum(F.col("comp").cast("decimal(38,0)"))
            ).collect()[0][0]
            # the collect materialized the NEW checkpoint — the previous
            # round's blocks are now dead weight in the block manager
            unpersist_rdds(sc, live_ids - new_ids)
            live_ids = new_ids
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    except BaseException:
        unpersist_rdds(sc, live_ids)
        raise
    finally:
        sym.unpersist()  # labels is checkpointed — safe even on raise
    if not converged:
        # a silent partial result would split real clusters — refuse
        unpersist_rdds(sc, live_ids)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    track_rdds(live_ids, sc=sc)
    return labels
