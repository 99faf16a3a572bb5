"""Mergeable frequency sketches (engine extension).

The reference's only approximate state is the UV Bloom filter
(UvWithBloom.java:60-92, covered by operators/windows.py); this module
adds the other sketch a 100 TB counting pipeline needs: Misra-Gries
heavy hitters, in the *mergeable summaries* formulation (Agarwal,
Cormode, Huang, Phillips, Wei, Yi — "Mergeable Summaries", PODS 2012):
a k-counter summary computed per partition, merged by summing counters
and re-compressing to k. The merged estimate underestimates every
item's true count by at most n/(k+1), and every item with true count
> n/(k+1) is guaranteed to survive — both properties are independent
of the merge tree, which is exactly what makes the sketch shuffle-safe
(partition-local partials, one tiny final combine).

Why not plain ``groupBy(col).count()``: an exact count shuffles one
row per distinct key. For heavy-tail key spaces (urls, user agents,
n-grams) the distinct count is itself corpus-sized; the sketch caps
the shuffled state at k rows per partition regardless of cardinality.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _compress(counts: pd.Series, k: int) -> pd.Series:
    """Compress an exact histogram to a Misra-Gries k-summary: keep the
    top-k items with the (k+1)-th largest count subtracted (the PODS'12
    merge step). Items dropping to <= 0 vanish; the discarded mass is
    what the n/(k+1) error bound accounts for."""
    if len(counts) <= k:
        return counts
    # stable tie-break on the item value so partials are deterministic
    # for a given partition content, not hash-order-dependent
    ordered = counts.sort_index().sort_values(ascending=False, kind="stable")
    t = int(ordered.iloc[k])
    kept = (ordered.iloc[:k] - t).astype("int64")
    return kept[kept > 0]


def mg_partials(df: DataFrame, col: str, k: int) -> DataFrame:
    """Each partition's Misra-Gries k-summary of ``df[col]`` (cast to
    string, NULLs dropped) as <= k ``(item, partial)`` rows, plus one
    ``(NULL, n)`` row holding the partition's non-null row count (the
    sketch never holds a NULL item, so the two cannot collide) — the
    narrow first half of :func:`misra_gries`. The per-partition
    histogram is a C-speed ``value_counts`` per Arrow batch, summed in
    ONE unsorted groupby over their concatenation (adding each batch
    into a running Series re-aligns the whole accumulated index every
    time, batches x distinct keys; order is free, as :func:`_compress`
    sorts before it cuts and consumers sum by item), and compressed
    once. Summing the partials by item and applying :func:`_compress`
    is the whole combine: the PODS'12 merge of k-summaries, equal to
    :func:`misra_gries`' distributed re-compression."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts = [pdf[col].value_counts() for pdf in batches]
        if not counts:
            return
        acc = pd.concat(counts).groupby(level=0, sort=False).sum().astype("int64")
        if len(acc):
            part = _compress(acc, k)
            yield pd.DataFrame(
                {
                    "item": [*part.index.astype(str), None],
                    "partial": [*part.values, int(acc.sum())],
                }
            )

    return df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        partials, schema="item string, partial long"
    )


def misra_gries(df: DataFrame, col: str, k: int = 16) -> DataFrame:
    """Approximate heavy hitters of ``df[col]``: one row per surviving
    item with its (under-)estimated count, ``est <= true <= est +
    n/(k+1)``.

    Plan: :func:`mg_partials`' narrow ``mapInPandas`` turns each
    partition into <= k (item, partial) rows, then ONE shuffle over
    those tiny partials sums and re-compresses globally. Total shuffled
    bytes are O(k x partitions), never O(distinct items); no state
    larger than k rows ever sits on one task. Estimates (and which
    borderline items survive) depend on how rows were partitioned, so
    callers needing a partitioning-independent statement should assert
    the error/coverage bounds (see ``heavy_hitters_check``), not the
    raw counts.

    NULL values are EXCLUDED from the sketch (pandas value_counts
    drops them): on a nullable column, count n and any exact baseline
    over non-null rows only, or the n/(k+1) budget inflates and a
    NULL-heavy column can manufacture spurious coverage misses
    (heavy_hitters_stream already counts n post-filter)."""
    from ..caching import track

    parts = mg_partials(df, col, k).filter(F.col("item").isNotNull())
    # persist the <= k x P summed partials: two consumers (the top-k
    # ranking and the (k+1)-th-threshold subquery) would otherwise each
    # re-run the corpus-wide partials pass
    summed = track(parts.groupBy("item").agg(F.sum("partial").alias("est")).persist())
    # global re-compression, expressed over the <= k x P row frame:
    # subtract the (k+1)-th largest summed counter, drop <= 0
    w = Window.orderBy(F.col("est").desc(), F.col("item").asc())
    ranked = summed.withColumn("_rk", F.row_number().over(w))
    kth1 = ranked.filter(F.col("_rk") == k + 1).select(F.col("est").alias("_t"))
    return (
        ranked.filter(F.col("_rk") <= k)
        .crossJoin(F.broadcast(kth1.select(F.coalesce(F.max("_t"), F.lit(0)).alias("_t"))))
        .select("item", (F.col("est") - F.col("_t")).alias("est"))
        .filter(F.col("est") > 0)
    )


# --- Count-Min sketch (Cormode & Muthukrishnan 2005) -----------------

CMS_SPACE = 4294967296  # 2^32: the md5-prefix hash space


def _cms_pairs_expr(item_sql: str, width: int, depth: int) -> str:
    """SQL for the ``depth`` (row, bucket) pairs of one item, using the
    cross-engine md5-prefix hash (conv(substr(md5(item ':' row))))
    so a DuckDB oracle can replicate the sketch bit-for-bit."""
    return (
        f"transform(sequence(0, {depth - 1}), i -> named_struct("
        f"'r', cast(i as int), "
        f"'b', cast(cast(conv(substr(md5(concat({item_sql}, ':', "
        f"cast(i as string))), 1, 8), 16, 10) as bigint) % {width} as int)))"
    )


def count_min_sketch(
    df: DataFrame,
    col: str,
    width: int = 512,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of ``df[col]`` as a (r, b, c) frame: ``depth``
    hash rows of ``width`` counters; ``c`` is how many input rows
    hashed into (r, b). The frame IS the sketch — at most
    ``depth x width`` rows no matter the input cardinality, and
    mergeable by unioning frames and re-summing c (counter addition is
    the CM merge; exact, not approximate — the only approximation is
    the collision overcount itself).

    Plan: one projection fans each row into its ``depth`` (r, b) pairs
    JVM-side, then ONE shuffle with map-side combine onto the
    <= depth x width key space. Like the Misra-Gries partials, the
    shuffled state is bounded by the sketch size, never by the number
    of distinct items — the property that makes sketch > exact-groupBy
    at heavy-tail 100 TB key spaces.

    ``weight_col``: build the sketch from a PRE-AGGREGATED (item,
    count) frame — each row contributes ``weight_col`` instead of 1,
    so ``count_min_sketch(vocab, col, weight_col="cnt")`` is
    bit-identical to running the raw occurrence frame through, while
    hashing each DISTINCT item once instead of once per occurrence
    (the occurrence path md5-hashes every token occurrence
    x depth). Use it when a caller already pays the exact groupBy
    (e.g. alongside an exact top-K baseline); the occurrence path
    stays the default because a pure sketch pass must NOT pay a
    vocabulary-sized shuffle at 100 TB.
    """
    cols = [F.col(weight_col).alias("_w")] if weight_col else []
    pairs = df.select(
        *cols,
        F.explode(
            F.expr(_cms_pairs_expr(f"cast({col} as string)", width, depth))
        ).alias("rb"),
    )
    counter = F.sum("_w") if weight_col else F.count(F.lit(1))
    return pairs.groupBy(
        F.col("rb.r").alias("r"), F.col("rb.b").alias("b")
    ).agg(counter.cast("long").alias("c"))


def cms_estimate(
    sketch: DataFrame, items: DataFrame, col: str, width: int = 512, depth: int = 4
) -> DataFrame:
    """Point-frequency estimates for ``items[col]`` against a
    ``count_min_sketch`` frame built with the same (width, depth):
    min over the item's ``depth`` counters, the classical CM estimate.
    Guarantees: est >= true always (counters only ever overcount);
    est <= true + eps*N with prob 1 - delta for eps = e/width,
    delta = e^-depth.

    The sketch frame (<= depth x width rows) broadcasts onto the query
    items, so estimating costs one broadcast-hash join + a groupBy on
    the item frame — no corpus re-scan. Extra columns of ``items``
    ride through unchanged — as GROUP KEYS: duplicate (item, carry)
    rows collapse to one output row (the estimate is identical for
    identical inputs); probe with distinct rows, or add a row-id carry
    column, if per-probe multiplicity matters downstream."""
    carry = [c for c in items.columns if c != col]
    expanded = items.select(
        F.col(col),
        *carry,
        F.explode(
            F.expr(_cms_pairs_expr(f"cast({col} as string)", width, depth))
        ).alias("rb"),
    )
    joined = expanded.join(
        F.broadcast(sketch),
        (F.col("rb.r") == F.col("r")) & (F.col("rb.b") == F.col("b")),
        "left",
    )
    return joined.groupBy(F.col(col), *[F.col(c) for c in carry]).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est_c")
    )


# --- KMV distinct-value sketch with set algebra -----------------------


def kmv_hash_sql(val_sql: str) -> str:
    """The md5-prefix hash that defines the KMV order — identical in
    Spark and DuckDB ('0x' || substr(md5(x),1,8))::BIGINT), uniform on
    [0, 2^32)."""
    return (
        f"cast(conv(substr(md5({val_sql}), 1, 8), 16, 10) as bigint)"
    )


# Ceiling on kmv_minima's per-task partial state, in int64 hash values
# (sets seen by one task x k): 2^27 values is 1 GiB per Python worker.
# A task past it raises instead of running out of memory.
KMV_TASK_STATE_MAX = 1 << 27


def kmv_minima(
    df: DataFrame, set_col: str, val_sql: str, k: int = 128
) -> DataFrame:
    """Per-set K-Minimum-Values sketch (Bar-Yossef et al. 2002 /
    Beyer et al. "On Synopses for Distinct-Value Estimation", SIGMOD
    2007): the k smallest DISTINCT hash values of ``val_sql`` within
    each ``set_col`` group, as a flat (set, h, rn) frame. Distinct
    cardinality estimate: (k-1) * 2^32 div h_k (integer arithmetic —
    cross-engine exact); sets with fewer than k distinct values keep
    everything and their sketch is exact. Sketches of different sets
    compose: the k smallest of a union of sketches is the sketch of
    the union, and membership of a union-sketch value v in set A is
    decidable from A's sketch alone (v <= union h_k <= A's h_k).

    Scale shape (guide §2.3/§4.2 — ONE pass, EXACT): the k-min
    per set is neither a per-set sort of all values nor the previous
    two-pass HLL-threshold prefilter (which sized every set with
    approx_count_distinct in a first full pass, then re-ran the whole
    upstream pipeline for the filtered second pass — for a lazy
    tokenize/shingle input that meant computing the corpus transform
    twice). A single corpus pass projects only (s, h) into a
    ``mapInPandas`` partial reducer that keeps, per task, the k
    smallest distinct hashes of each set it sees — bounded state
    (|sets| x k longs per task, numpy-vectorized per Arrow batch), the
    classic aggregate-before-shuffle shape. Only those <= |tasks| x
    |sets| x k survivors reach the one k-bounded groupBy that
    sort-merges them to the global minima.

    EXACTNESS (what replaces the old probabilistic invariant): every
    global k-minimum of set s is, within the partition that holds it,
    among that partition's k smallest distinct hashes of s — fewer
    than k distinct values of s can precede it anywhere, so fewer
    precede it locally. The partial reducer therefore never discards
    a global minimum, and the final top-k over the union of partials
    equals the unfiltered computation BIT-FOR-BIT on every input and
    every partitioning (what lets a DuckDB oracle compute the naive
    ROW_NUMBER form and still match exactly; pinned by the
    partition-independence and cross-batch-merge pytests). No size
    estimate and no margin are needed. The one loud failure is the
    state guard: a task holding more than KMV_TASK_STATE_MAX values
    (|sets| x k) raises RuntimeError.

    Operating ceiling (unchanged): hashes live in 32-bit space
    (CMS_SPACE = 2^32), so md5-prefix collisions bias the estimate as
    set cardinality approaches ~4 G distinct values per set — the
    right response is a wider hash space (or per-set sharding), not
    this sketch."""
    import numpy as np

    hashed = df.select(
        F.col(set_col).alias("s"), F.expr(kmv_hash_sql(val_sql)).alias("h")
    )
    out_schema = hashed.schema
    ceiling = KMV_TASK_STATE_MAX

    def _partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task state: set -> sorted int64 array of <= k smallest
        # distinct hashes seen so far (merged across Arrow batches)
        state: dict = {}
        for pdf in batches:
            pdf = pdf.dropna()
            if not len(pdf):
                continue
            for s, grp in pdf.groupby("s", sort=False)["h"]:
                cand = np.unique(grp.to_numpy(dtype="int64"))[:k]
                cur = state.get(s)
                if cur is not None:
                    cand = np.unique(np.concatenate((cur, cand)))[:k]
                state[s] = cand
            if len(state) * k > ceiling:
                raise RuntimeError(
                    f"kmv_minima: {len(state)} sets x k={k} exceed the per-task "
                    f"state ceiling of {ceiling} values (KMV_TASK_STATE_MAX)"
                )
        if state:
            yield pd.DataFrame(
                {
                    "s": np.repeat(
                        list(state.keys()), [len(v) for v in state.values()]
                    ),
                    "h": np.concatenate(list(state.values())),
                }
            )

    partials = hashed.mapInPandas(_partial_topk, out_schema)
    # one k-bounded groupBy: collect_set dedups survivors that tied
    # across tasks, array_sort + slice keep the k global minima, and
    # posexplode re-ranks them — rank semantics identical to the old
    # distinct + ROW_NUMBER window (hashes are distinct within a set
    # by construction, so ties never existed for rn to break)
    kept = partials.groupBy("s").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("hs")
    )
    return kept.select("s", F.posexplode("hs")).select(
        "s", F.col("col").alias("h"), (F.col("pos") + 1).cast("int").alias("rn")
    )


def kmv_est_expr(n_col: str, hmax_col: str, k: int):
    """THE KMV cardinality estimator as a Column — exact count when
    fewer than k distinct hashes were kept (the sketch IS the set),
    else (k-1) * 2^32 div h_k. Integer division keeps it bit-identical
    across engines. Single source of truth for every grouping the
    estimator is applied to (per-set, per-pair-union, ...)."""
    return (
        F.when(F.col(n_col) < k, F.col(n_col))
        .otherwise(
            F.expr(
                f"cast({k - 1} as bigint) * cast({CMS_SPACE} as bigint)"
                f" div {hmax_col}"
            )
        )
        .cast("long")
    )


def kmv_estimate(minima: DataFrame, k: int = 128) -> DataFrame:
    """(set, est) from a ``kmv_minima`` frame via :func:`kmv_est_expr`."""
    return minima.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("h_max")
    ).select("s", kmv_est_expr("n_kept", "h_max", k).alias("est"))


def kmv_pair_intersections(minima: DataFrame, k: int = 128) -> DataFrame:
    """Intersection / union cardinality for every unordered pair of
    sets in a ``kmv_minima`` frame — the KMV set algebra the sketch
    exists for (Beyer et al., SIGMOD 2007 §5: the k smallest of a
    union of sketches is a sketch of the union, and membership below
    both sketches' thresholds is decidable from the sketches alone).
    Answers "how many ids/tokens/urls do sources A and B share"
    without ever rescanning data: the inputs are k-row sketches.

    Per pair, with θ = the smallest k-th minimum among the INEXACT
    sides (a set that kept < k hashes IS its set — no threshold):

    - ``S`` = distinct sketch hashes ≤ θ (every A∪B value hashing ≤ θ
      is in its side's sketch, so S is a uniform hash-sample of A∪B);
    - ``est_union``: exact ``|S|`` when both sides are exact, else
      ``(|S|-1) * 2^32 div θ`` (θ ∈ S, the KMV estimator with k→|S|);
    - ``est_intersection``: exact when both sides are exact, else
      ``n_both * est_union div |S|`` where n_both counts S-hashes
      present in BOTH sketches (the Jaccard sample restricted to the
      decidable region);
    - ``est_a_minus_b`` / ``est_b_minus_a``: the set DIFFERENCES by
      the same sample argument — S partitions into both/only-A/only-B
      (every S-hash is decidable on each side), so the one-sided
      counts scale by the same ``est_union div |S|`` factor and the
      four outputs satisfy ``only_a + only_b + both = |S|`` exactly
      on the sample (estimates may each round down independently).

    Exactness contract caveat: "exact" on the both-below-k path means
    exact over DISTINCT 32-BIT HASHES, not distinct values — two
    values colliding in the md5-prefix space silently undercount by
    one (and a cross-set collision overcounts the intersection). The
    estimator is hash-space-bound by design, the same operating
    ceiling :func:`kmv_minima` documents: collision probability stays
    ~n²/2³³ per set, negligible until set cardinality approaches the
    32-bit space, where a wider hash — not this sketch — is the tool.

    All arithmetic is fixed-point integer on the portable md5-prefix
    hash, so results are bit-identical across engines, partitionings
    and runs. Scale shape: ONE k-bounded groupBy collapses the
    sketch frame to |sets| rows of (sorted hash array, n_kept, h_max);
    the pair matrix is a broadcast cross of that frame against itself
    and every count the estimators need is array set algebra inside
    the pair projection — zero further shuffles, zero sorts, never
    touching the original data. State is bounded by |sets|² pairs
    (each carrying two k-long arrays) like the overlap matrix; the
    operator is for set-level (source/domain/day) sketches, not
    per-document ones.

    Returns ``(set_a, set_b, est_a, est_b, est_union,
    est_intersection, est_a_minus_b, est_b_minus_a)`` with
    set_a < set_b."""
    # ONE k-bounded aggregation collapses each set's sketch to a
    # sorted hash ARRAY (k longs — the sketch is k-row by contract),
    # and the whole pair algebra becomes array set-ops inside the pair
    # projection (guide §2.3/§2.4): the previous shape broadcast
    # the pair list onto the flat minima frame twice, unioned
    # 2 x |pairs| x k rows and paid a (pair, h) hash shuffle plus a
    # pair rollup shuffle to count memberships that
    # array_intersect/size answer directly — per-pair work is
    # identical, the corpus-independent shuffles are gone, and the
    # persisted multi-consumer minima frame (three subtrees before)
    # has a single consumer, so the sketch pipeline runs once inline
    # with no persist at all. Sketch hashes are distinct per set by
    # construction, so intersect/size over the filtered arrays ARE the
    # set counts the row form aggregated.
    from ..caching import track

    # persist the |sets|-row ARRAY frame (not the k x |sets| minima
    # the old shape cached): the cross join consumes it twice (a-side
    # and b-side), and without the cache each side would re-run the
    # whole lazy kmv_minima corpus pipeline. Lazy persist, two
    # consumers in one job — the block-manager's per-block locks make
    # the second build wait-and-read (the minhash sets pattern).
    kept = track(
        minima.groupBy("s")
        .agg(
            F.sort_array(F.collect_list("h")).alias("hs"),
            F.count(F.lit(1)).alias("n_kept"),
            F.max("h").alias("h_max"),
        )
        .persist()
    )
    a = kept.select(
        F.col("s").alias("set_a"),
        F.col("hs").alias("hs_a"),
        F.col("n_kept").alias("n_a"),
        F.col("h_max").alias("hmax_a"),
    )
    b = kept.select(
        F.col("s").alias("set_b"),
        F.col("hs").alias("hs_b"),
        F.col("n_kept").alias("n_b"),
        F.col("h_max").alias("hmax_b"),
    )
    exact_a, exact_b = F.col("n_a") < k, F.col("n_b") < k
    pairs = (
        a.crossJoin(b)
        .where(F.col("set_a") < F.col("set_b"))
        .select(
            "set_a",
            "set_b",
            "n_a",
            "n_b",
            "hmax_a",
            "hmax_b",
            "hs_a",
            "hs_b",
            (exact_a & exact_b).alias("both_exact"),
            # θ over the inexact sides only; CMS_SPACE (> any hash)
            # when a side is exact so least() ignores it, and when
            # both are exact every hash passes the θ filter
            F.least(
                F.when(exact_a, F.lit(CMS_SPACE)).otherwise(F.col("hmax_a")),
                F.when(exact_b, F.lit(CMS_SPACE)).otherwise(F.col("hmax_b")),
            ).alias("theta"),
        )
    )
    # the membership sample S = distinct union-hashes <= θ, split into
    # both/only-a/only-b — straight set algebra on the filtered arrays
    fa = F.filter(F.col("hs_a"), lambda h: h <= F.col("theta"))
    fb = F.filter(F.col("hs_b"), lambda h: h <= F.col("theta"))
    sample = pairs.select(
        "*",
        F.size(F.array_intersect(fa, fb)).alias("n_both"),
        F.size(fa).alias("_sz_a"),
        F.size(fb).alias("_sz_b"),
    ).select(
        "*",
        (F.col("_sz_a") + F.col("_sz_b") - F.col("n_both")).alias("n_s"),
        (F.col("_sz_a") - F.col("n_both")).alias("n_only_a"),
        (F.col("_sz_b") - F.col("n_both")).alias("n_only_b"),
    )
    est_union = F.when(F.col("both_exact"), F.col("n_s")).otherwise(
        F.expr(f"cast(n_s - 1 as bigint) * cast({CMS_SPACE} as bigint) div theta")
    )
    return (
        sample
        .withColumn("est_union", est_union.cast("long"))
        .select(
            "set_a",
            "set_b",
            kmv_est_expr("n_a", "hmax_a", k).alias("est_a"),
            kmv_est_expr("n_b", "hmax_b", k).alias("est_b"),
            "est_union",
            F.when(F.col("both_exact"), F.col("n_both"))
            .otherwise(F.expr("n_both * est_union div n_s"))
            .cast("long")
            .alias("est_intersection"),
            F.when(F.col("both_exact"), F.col("n_only_a"))
            .otherwise(F.expr("n_only_a * est_union div n_s"))
            .cast("long")
            .alias("est_a_minus_b"),
            F.when(F.col("both_exact"), F.col("n_only_b"))
            .otherwise(F.expr("n_only_b * est_union div n_s"))
            .cast("long")
            .alias("est_b_minus_a"),
        )
    )


# --- native Datasketches HLL rollup -----------------------------------


def hll_rollup(
    df: DataFrame,
    set_col: str,
    sub_col: str,
    val_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Two-level distinct-count rollup on Spark's NATIVE Datasketches
    HLL aggregates (the JVM sketch path KMV's set algebra complements):
    per (set, sub) HLL sketches — the materializable fine-grained cube
    cell — then a LOSSLESS ``hll_union_agg`` rollup to per-set
    estimates. Union of same-lgConfigK HLL sketches merges registers
    exactly, so rolling up pre-aggregated sub-sketches gives the SAME
    estimate as sketching each set directly (pinned by pytest) — the
    property that lets a 100 TB pipeline store per-(set, day) sketch
    bytes once and answer any set-level distinct question without
    touching raw data again.

    Returns ``(set, n_subs, est_distinct)``. Plan: one shuffle to the
    (set, sub) cells with partial HLL buffers map-side combined, one
    tiny shuffle of sketch BYTES (|cells| rows) to the set level —
    distinct cardinality never crosses the wire. Estimates are
    deterministic for fixed data but Datasketches-internal, so
    registry rows built on this are rows-only with pytest bounds
    (DuckDB's approx_distinct is a different sketch)."""
    cells = df.groupBy(
        F.col(set_col).alias("s"), F.col(sub_col).alias("sub")
    ).agg(F.hll_sketch_agg(F.col(val_col), F.lit(lgk)).alias("sk"))
    return cells.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_subs"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("est_distinct"),
    )


def kll_quantile_names(quantiles: "tuple[float, ...]") -> "list[str]":
    """Validated output-column names for a quantile tuple, shared by
    the batch rollup and the streaming monitor so the two surfaces
    can never drift: percent with ``.`` → ``_`` (0.5 → q_50,
    0.999 → q_99_9)."""
    if not quantiles or any(not (0 < q <= 1) for q in quantiles):
        raise ValueError(f"quantiles must be in (0, 1], got {quantiles}")
    names = [f"q_{f'{q * 100:g}'.replace('.', '_')}" for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate quantile columns from {quantiles}: {names}")
    return names


def kll_quantile_rollup(
    df: DataFrame,
    set_col: str,
    sub_col: str,
    val_col: str,
    quantiles: "tuple[float, ...]" = (0.5, 0.95, 0.99),
    k: int = 200,
) -> DataFrame:
    """Two-level QUANTILE rollup on Spark's native Datasketches KLL
    aggregates — the hll_rollup twin for order statistics: per
    (set, sub) KLL sketches (the materializable cube cell), then a
    ``kll_merge_agg_double`` rollup to per-set quantiles. The KLL
    merge preserves the sketch's ε ≈ 1.7/√k normalized-RANK error
    (Karnin-Lang-Liberty, FOCS 2016) regardless of the merge tree, so
    a 100 TB pipeline stores per-(set, day) sketch bytes once and
    answers any set-level quantile question without re-reading data —
    what exact ``percentile`` cannot do without a full re-sort and
    ``percentile_approx`` cannot do from pre-aggregated state.

    Exactness contract: a set whose TOTAL value count stays ≤ k keeps
    every value through both levels, so its quantiles are exact order
    statistics (pinned by pytest); larger sets carry the rank-error
    bound (also pinned, with a planted distribution). NULL values are
    filtered BEFORE sketching (an all-NULL cell would otherwise
    produce an empty sketch whose quantile extraction aborts the
    job), so a set with no non-NULL values yields no output row —
    the rollup analog of percentile_approx's NULL result.

    Returns ``(set, n_subs, n_vals, q_<pct> ...)`` with one double
    column per requested quantile, named by percent with ``.`` → ``_``
    (0.5 → q_50, 0.999 → q_99_9). Plan: one shuffle to the (set, sub)
    cells with partial KLL buffers map-side combined, one tiny shuffle
    of sketch BYTES (|cells| rows) to the set level — the value stream
    never crosses the wire twice. Above k, estimates are NOT
    deterministic across partitionings (measured: repartitioning the
    same 60k rows moved q95 by ~0.1% — KLL compaction is
    merge-order-sensitive, unlike hll_rollup's register-max union),
    only RANK-ERROR-BOUNDED; below k they are exact order statistics
    under any split. Hence the registry row built on this is
    rows-only with pytest bounds — a value oracle would flap on
    partition count alone."""
    names = kll_quantile_names(quantiles)
    cells = (
        df.filter(F.col(val_col).isNotNull())
        .groupBy(F.col(set_col).alias("s"), F.col(sub_col).alias("sub"))
        .agg(F.kll_sketch_agg_double(F.col(val_col), F.lit(k)).alias("sk"))
    )
    merged = cells.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_subs"),
        F.kll_merge_agg_double(F.col("sk")).alias("msk"),
    )
    qcols = [
        F.kll_sketch_get_quantile_double(F.col("msk"), F.lit(float(q))).alias(name)
        for q, name in zip(quantiles, names)
    ]
    return merged.select(
        "s",
        "n_subs",
        F.kll_sketch_get_n_double(F.col("msk")).cast("long").alias("n_vals"),
        *qcols,
    )
