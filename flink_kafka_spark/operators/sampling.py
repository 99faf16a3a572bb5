"""Dataset sampling / splitting (engine extension: training-data
pipeline ops; the reference has no sampling surface).

Split assignment must be a pure function of the row id — never `rand()`
— so that re-running the pipeline (or running it on a different
cluster/partitioning) assigns every row to the same split. The mixer
is a Knuth multiplicative hash kept inside 63 bits so the identical
arithmetic runs on any ANSI SQL engine (oracle-checkable, no
engine-specific hash function).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import local_frame

_KNUTH = 2654435761  # 2^32 * golden ratio conjugate


def split_bucket_expr(id_col: str, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets): Knuth multiplicative mix
    of the integer id — identical formula expressible in plain SQL.

    The id is reduced mod 1000000007 BEFORE the multiply: a raw
    ``id * _KNUTH`` overflows int64 for ids ≥ ~3.47e9 (ANSI mode
    errors; non-ANSI wraps while a HUGEINT engine promotes — divergent
    buckets). ``pmod(id, p) * _KNUTH`` stays < 2^62 for any BIGINT id,
    and is identical to the unreduced form for ids < p."""
    return F.expr(
        f"pmod((pmod({id_col}, 1000000007) * {_KNUTH}L) % 1000000007, {n_buckets})"
    )


def split_bucket_sql(id_col: str, n_buckets: int = 100) -> str:
    """The DuckDB/ANSI twin of :func:`split_bucket_expr` (operands are
    non-negative after the inner reduction, so ``%`` == pmod)."""
    return f"(((({id_col} % 1000000007) * {_KNUTH}) % 1000000007) % {n_buckets})"


def train_val_test_split(
    df: DataFrame, id_col: str, train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Assign train/val/test by deterministic bucket — a narrow
    projection (no shuffle, no state), stable across runs and
    partitionings."""
    b = split_bucket_expr(id_col)
    return df.withColumn(
        "split",
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def grouped_split(
    df: DataFrame, group_col: str, train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Assign train/val/test by deterministic bucket of a GROUP key
    (near-dup cluster id, domain, url host …) instead of the row id —
    the leakage-safe split: every member of a group lands in the SAME
    split, so near-duplicates of a training document can never leak
    into the eval set (the contamination mode Lee et al. flag when
    dedup runs after splitting). Same narrow no-shuffle projection as
    :func:`train_val_test_split`; the group key must be integral (use
    a hash for string keys)."""
    b = split_bucket_expr(group_col)
    return df.withColumn(
        "split",
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def stratified_sample(
    df: DataFrame, stratum_col: str, fractions: dict[str, float], seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``): keeps ~fraction
    of each stratum. Seeded → deterministic for a fixed partitioning;
    for partitioning-independent sampling use a bucket threshold on
    :func:`split_bucket_expr` instead."""
    return df.sampleBy(stratum_col, fractions, seed)


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    budget: int = 1024,
    n_shards: int = 32,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document to the
    fixed-size context window (bin) its first token lands in, the way
    a pretraining pipeline concatenates a shard's documents and slices
    the stream into `budget`-token windows.

    Documents are first bucketed into deterministic hash shards (so the
    window sort never sees more than corpus/n_shards rows per
    partition — the scale knob), then ordered by id within the shard
    and run through a cumulative token sum:

        start_offset = cumsum(n_tokens) - n_tokens   (per shard)
        bin_id       = floor(start_offset / budget)

    One shuffle (by shard) + one in-partition sort; no state, no
    Python. Deterministic across runs and partitionings because both
    the shard and the order are pure functions of the id.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("shard", split_bucket_expr(id_col, n_shards))
        .withColumn("start_offset", F.sum(n_tokens_col).over(w) - F.col(n_tokens_col))
        .withColumn("bin_id", F.floor(F.col("start_offset") / budget))
        .select(id_col, "shard", n_tokens_col, "start_offset", "bin_id")
    )


def mixture_resample(
    df: DataFrame,
    weights: dict[str, int],
    budget_permille: int = 500,
    source_col: str = "source",
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    default_weight: int = 1,
) -> DataFrame:
    """Domain-mixture resampling under a token budget: mark which
    documents to keep so the kept corpus totals ~budget_permille/1000
    of the input tokens, distributed across sources in proportion to
    `weights` (a source → integer-weight map; unknown sources get
    `default_weight`), capped at each source's actual size.

    Mechanics: one tiny per-source aggregate (+ its grand total) is
    broadcast-joined back onto the corpus; each doc keeps iff its
    deterministic hash bucket (of 1e6) falls under the source's
    keep-threshold. Pure functions of (id, source) end-to-end — a
    re-run, a different partitioning, or an incremental top-up keeps
    exactly the same documents.

    Threshold math stays in BIGINT/DECIMAL(38,0) so any ANSI engine
    reproduces it bit-for-bit: per-source target tokens =
    grand * budget_permille/1000 * w/Σw, keep-threshold =
    min(1e6, floor(target * 1e6 / source_tokens)).

    A NULL source is a real stratum (default-weighted): the threshold
    join-back is null-safe, so its documents keep their release
    decision instead of silently vanishing from the output (pinned by
    pytest).
    """
    wsum = sum(weights.values()) or default_weight
    case = "CASE " + " ".join(
        f"WHEN {source_col} = '{s}' THEN {w}" for s, w in sorted(weights.items())
    ) + f" ELSE {default_weight} END"
    totals = df.groupBy(source_col).agg(F.sum(n_tokens_col).alias("src_tokens"))
    grand = totals.agg(F.sum("src_tokens").alias("grand_tokens"))
    thresholds = (
        totals.crossJoin(F.broadcast(grand))
        .withColumn("w", F.expr(case))
        .withColumn(
            "target_tokens",
            F.expr(
                f"CAST(floor(CAST(grand_tokens AS DECIMAL(38,0)) * {budget_permille} * w "
                f"/ ({wsum} * 1000)) AS BIGINT)"
            ),
        )
        .withColumn(
            "keep_thresh",
            F.expr(
                "least(1000000L, CAST(floor(CAST(target_tokens AS DECIMAL(38,0)) * 1000000 "
                "/ src_tokens) AS BIGINT))"
            ),
        )
        .select(F.col(source_col).alias("_th_src"), "keep_thresh")
    )
    return (
        df.join(
            F.broadcast(thresholds),
            F.col(source_col).eqNullSafe(F.col("_th_src")),
        )
        .withColumn(
            "keep",
            (split_bucket_expr(id_col, 1_000_000) < F.col("keep_thresh")).cast("int"),
        )
        .select(id_col, source_col, n_tokens_col, "keep")
    )


def stratified_cap(
    df: DataFrame, strata_cols: list[str], id_col: str, k: int
) -> DataFrame:
    """Keep at most `k` rows per stratum, chosen by deterministic hash
    order of the id (NOT first-k-by-id, which would bias toward old
    rows). The balancing step for over-represented (lang, source)
    cells before mixing a training corpus.

    One shuffle (hash-partition by stratum) + per-stratum sort. The
    ORDER BY key is the 1e6-bucket Knuth hash with the raw id as
    tiebreak — a pure function of the id, so re-runs and repartitions
    keep the same rows. At extreme stratum sizes (≫ executor memory)
    swap the exact row_number for a two-pass threshold: sample the
    hash-bucket distribution, keep rows under the ~k-quantile bucket,
    then exact-trim the small remainder.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*strata_cols).orderBy(
        split_bucket_expr(id_col, 1_000_000).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def export_shards(
    df: DataFrame, order_col: str, shard_size: int, n_parts: int | None = None
) -> DataFrame:
    """Assign contiguous 0-based global row numbers in `order_col`
    order and group them into fixed-size export shards — the final
    "write the corpus as N ordered shards" step of a dataset release.

    The naive `row_number() OVER (ORDER BY ...)` collapses the whole
    dataset into ONE partition (the anti-pattern tests/test_plans.py
    rejects). This is the scalable two-pass form:

      1. range-repartition on the order key, persist + count to PIN
         the partitioning (range sampling must not be recomputed
         between passes);
      2. per-partition counts -> driver cumsum (one tiny collect,
         #partitions rows) -> broadcast offsets;
      3. row_number within each range partition + its offset.

    Output is independent of the sampled range boundaries because the
    key's total order is; `order_col` must be unique (use a tiebreak
    composite otherwise).
    """
    from pyspark.sql.window import Window

    n_parts = n_parts or df.sparkSession.sparkContext.defaultParallelism
    from ..caching import track

    parts = track(
        df.repartitionByRange(n_parts, F.col(order_col).asc())
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    parts.count()  # pin partition boundaries before the two reads
    sizes = sorted(
        (r._pid, r.n)
        for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in sizes:
        offsets.append((pid, acc))
        acc += n
    off_df = local_frame(df.sparkSession, offsets, "_pid int, _offset long")
    w = Window.partitionBy("_pid").orderBy(F.col(order_col).asc())
    return (
        parts.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("global_rn", (F.col("_offset") + F.col("_rn") - 1).cast("bigint"))
        .withColumn(
            "shard_id", F.expr(f"CAST(floor(global_rn / {shard_size}) AS BIGINT)")
        )
        .drop("_pid", "_rn", "_offset")
    )


def _shuffle_order_key(id_col: str, seed: int) -> Column:
    """The deterministic shuffle order key shared by the global
    permutation (:func:`shuffle_corpus`) and the two-level block
    shuffle (:func:`block_assignment`): 32-hex md5(seed|id) then the
    zero-padded id — fixed-width segments make the composite's
    lexicographic order equal (md5, id) order on any engine, and ONE
    definition keeps the two shuffles' claimed-identical determinism
    contract (and their DuckDB oracles) from drifting apart."""
    sid = F.col(id_col).cast("string")
    return F.concat_ws(
        "|",
        F.md5(F.concat_ws("|", F.lit(str(seed)), sid)),
        F.lpad(sid, 20, "0"),
    )


def shuffle_corpus(
    df: DataFrame, id_col: str = "doc_id", seed: int = 42, shard_size: int = 100
) -> DataFrame:
    """Deterministic global corpus shuffle: a pseudo-random but fully
    reproducible permutation of the corpus with contiguous positions
    and fixed-size shards — the "shuffle training order before
    packing/serving" step of a dataset release. Position is the rank
    of ``md5(seed|id)`` (ties broken by id), so re-runs on any
    partitioning, any cluster size, produce the identical permutation,
    and changing the seed is a fresh permutation.

    Scale design: the permutation key is a pure projection and the
    global rank reuses :func:`export_shards`'s two-pass range
    partition (sample boundaries, per-partition offsets) — never a
    single-partition window. One extra benefit at 100 TB: hash order
    is uniform by construction, so the range partitions are balanced
    no matter how skewed the input file order was.

    PRECONDITION: ``id_col`` values are NON-NULL (and unique — the
    export_shards rule). ``concat_ws`` skips NULL segments, so every
    NULL-id row would collapse onto the identical key md5(seed) and
    their relative positions become partitioning-dependent (and the
    DuckDB oracle's '||' yields NULL instead, diverging entirely).
    """
    key = _shuffle_order_key(id_col, seed)
    return (
        export_shards(df.withColumn("_shuffle_key", key), "_shuffle_key", shard_size)
        .withColumnRenamed("global_rn", "position")
        .drop("_shuffle_key")
    )


def block_shuffle(
    df: DataFrame, id_col: str = "doc_id", seed: int = 42, n_blocks: int = 64
) -> DataFrame:
    """Two-level reproducible epoch shuffle: hash-assign each row to
    one of ``n_blocks`` blocks, then order within the block by
    ``md5(seed|id)`` — the 100 TB-friendly alternative to the global
    permutation. :func:`shuffle_corpus` ranks the whole corpus (a
    boundary-sampling pass plus a range repartition — 3 exchanges);
    block shuffling is the standard data-loader compromise (shard
    assignment + intra-shard order): ONE hash-partition exchange and
    a per-partition sort, no global coordination of any kind, at the
    cost that the reader controls block interleaving rather than
    getting one total order (sufficient for LM training-order
    randomization, where epoch readers stream shards anyway).

    Determinism contract identical to :func:`shuffle_corpus`: block
    assignment and in-block order derive from INDEPENDENT md5 hashes
    of (seed, id) — prefix ``b|`` for the block hash so the two are
    uncorrelated — with the fixed-width ``(md5, lpad(id))`` composite
    breaking ties, so re-runs on any partitioning, any cluster size,
    produce the identical (block_id, block_pos) for every row, and a
    new seed is a fresh shuffle. Payload columns pass through
    untouched (the shuffle_corpus contract). Same NON-NULL ``id_col``
    precondition as shuffle_corpus (concat_ws skips NULL segments;
    the oracle's ``||`` nulls out instead).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("block_id").orderBy("_k")
    return (
        block_assignment(df, id_col, seed, n_blocks)
        .withColumn("block_pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("_k")
    )


def block_assignment(
    df: DataFrame, id_col: str = "doc_id", seed: int = 42, n_blocks: int = 64
) -> DataFrame:
    """Append the two-level-shuffle routing columns to ``df``:
    ``block_id`` (independent md5 hash of (b|seed|id) mod n_blocks)
    and ``_k`` (the fixed-width (md5(seed|id), lpad(id)) order key).
    Pure projections — shared by :func:`block_shuffle` (which ranks
    ``_k`` into block_pos) and io.write_block_shuffled (which sorts by
    ``_k`` inside the write partitioning), so the on-disk order and
    the query-side positions can never disagree."""
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    # column API throughout (r16 advice): interpolating id_col into an
    # expr string broke on names needing backticks while the order key
    # (column-API _shuffle_order_key) handled them fine
    block = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("b"), F.lit(str(seed)), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(n_blocks),
    ).cast("long")
    return df.withColumn("block_id", block).withColumn(
        "_k", _shuffle_order_key(id_col, seed)
    )


def source_interleave(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    weights: "dict[str, int] | None" = None,
    default_weight: int = 1,
    seed: int = 42,
    shard_size: int = 100,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Deterministic weighted interleave of sources into ONE training
    order — stride scheduling (Waldspurger & Weihl, OSDI'94; the
    schedule data loaders implement when mixing corpora at fixed
    ratios WITHOUT resampling): each source's docs are shuffled
    per-source (md5(seed|id), the shuffle_corpus key), then doc j of
    source s is scheduled at integer virtual time
    ``vt = j * scale div weight(s)`` — a source with weight 3
    receives ~3 slots for every slot a weight-1 source gets,
    deterministically spread rather than clumped (the difference from
    :func:`mixture_resample`, which changes WHAT is sampled; this
    changes only WHEN each doc appears, keeping every doc exactly
    once).

    Output: ``(id_col, source, src_rn, position, shard_id)`` —
    ``src_rn`` the doc's 1-based rank inside its source's shuffled
    stream, ``position`` the contiguous 0-based global training
    position, ``shard_id`` = position div shard_size (the
    export_shards contract, so the schedule writes directly as
    ordered shards).

    TOTAL-ORDER SPEC (both engines MUST rank the same key): the
    fixed-width composite ``lpad(vt, 20) | source | lpad(id, 20)``
    compared as a binary string. Tie order at equal vt is therefore
    the composite's BYTE order, not tuple (source, id) order — they
    differ when one source name prefixes another ('src1|' sorts
    after 'src10' because '|' > '9'); the oracle encodes the same
    composite, so the spec cannot drift. NULL sources coalesce to ''
    (and take ``default_weight``); ``id_col`` must be non-null and
    unique (the shuffle_corpus precondition).

    Scale design: one per-source shuffle ranks src_rn (the window
    partitions by source — salt-free because per-source streams are
    the unit being scheduled), then the global rank reuses
    :func:`export_shards`'s two-pass range partition — never a
    single-partition window; weights enter as a broadcast-free CASE
    projection."""
    from pyspark.sql.window import Window

    bad = [
        w_
        for w_ in [default_weight, *(weights or {}).values()]
        if not isinstance(w_, int) or isinstance(w_, bool) or w_ < 1
    ]
    if bad:
        # enforce, don't truncate: int(2.9) would silently schedule a
        # 2.9:1 mixing request as 2:1
        raise ValueError(
            f"source_interleave: weights must be integers >= 1, got {bad}"
        )
    internal = ("_src", "_ok", "_vt", "_w", "_key", "src_rn", "position", "shard_id")
    if id_col in internal or source_col in internal:
        raise ValueError(
            f"source_interleave: id_col={id_col!r}/source_col={source_col!r} "
            f"collides with an internal/output column {internal} — rename it first"
        )
    src = F.coalesce(F.col(source_col).cast("string"), F.lit(""))
    base = df.select(
        F.col(id_col),
        src.alias("_src"),
        _shuffle_order_key(id_col, seed).alias("_ok"),
    )
    w = Window.partitionBy("_src").orderBy("_ok")
    ranked = base.withColumn("src_rn", F.row_number().over(w).cast("long"))
    weight = F.lit(default_weight)
    for s, wt in sorted((weights or {}).items()):
        weight = F.when(F.col("_src") == s, F.lit(wt)).otherwise(weight)
    # integer DIV, never float-then-floor: src_rn * scale can exceed
    # the double mantissa on a 100 TB corpus and a last-ulp error
    # would reorder the schedule. Loud BIGINT-overflow guard (the
    # winnow_fingerprints 2^20 rule: silent schedule corruption is
    # worse than a failed job) — past 2^63/scale per-source rows the
    # non-ANSI product would wrap negative and sort FIRST, scrambling
    # the epoch order with no error while the DuckDB oracle raises.
    max_rn = (1 << 63) // int(scale)
    keyed = ranked.withColumn("_w", weight.cast("long")).withColumn(
        "_vt",
        F.expr(
            f"CASE WHEN src_rn > CAST({max_rn} AS BIGINT) THEN "
            f"raise_error(concat('source_interleave: source with ', "
            f"cast(src_rn as string), ' rows exceeds the 2^63/scale "
            f"virtual-time bound - lower scale or shard the source')) "
            f"ELSE CAST((src_rn * CAST({int(scale)} AS BIGINT)) DIV _w AS BIGINT) END"
        ),
    ).withColumn(
        "_key",
        F.concat_ws(
            "|",
            F.lpad(F.col("_vt").cast("string"), 20, "0"),
            F.col("_src"),
            F.lpad(F.col(id_col).cast("string"), 20, "0"),
        ),
    )
    return (
        export_shards(keyed, "_key", shard_size)
        .withColumnRenamed("global_rn", "position")
        .select(
            id_col,
            F.col("_src").alias("source"),
            "src_rn",
            "position",
            "shard_id",
        )
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass column profile (row count, nulls, distincts, min/max)
    in long form — the data-quality "describe" step before a corpus is
    admitted to training. min/max are cast to string so the schema is
    uniform across column types (int/string casts render identically
    on any engine; keep doubles out or format them explicitly).

    Single aggregation over one scan; multiple exact COUNT(DISTINCT)s
    compile to Spark's Expand strategy (input duplicated per distinct
    column — the exact-answer cost). At 100 TB swap in
    approx_count_distinct and keep the same output shape."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
            F.min(c).cast("string").alias(f"_mn_{c}"),
            F.max(c).cast("string").alias(f"_mx_{c}"),
        ]
    stack = ", ".join(
        f"'{c}', _n - _nn_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in cols
    )
    return df.agg(*aggs).select(
        F.col("_n").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {stack}) AS (col_name, n_null, n_distinct, min_val, max_val)"
        ),
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val")


def weighted_sample_expr(id_col: str, weight_sql: str, seed: int = 1) -> Column:
    """Efraimidis-Spirakis A-Res sampling key (Inf. Proc. Letters 97,
    2006): rank rows by ``u^(1/w)`` — equivalently by ``ln(u) / w``,
    which this returns — and the top-m per stratum are a weighted
    sample WITHOUT replacement, exactly as if rows were drawn one by
    one with probability ∝ weight.

    ``u`` is NOT rand(): it is the Knuth mix of (seed, id) mapped into
    (0, 1], an exact rational both engines compute bit-identically, so
    the sample is reproducible across runs, partitionings, and engines
    (the only cross-engine wobble is libm ln(), absorbed by rounding
    the key to 9 dp — callers must tie-break on id). Weights must be
    strictly positive, and ``id_col`` must be NUMERIC — the mix is
    arithmetic on the id (string keys: pre-hash to a numeric column,
    e.g. the kmv md5-prefix hash, so the cross-engine guarantee
    holds)."""
    u = (
        f"(CAST(pmod((pmod({id_col} + {seed}, 1000000007) * {_KNUTH}L), 1000000007) + 1 "
        f"AS DOUBLE) / 1000000008.0)"
    )
    return F.expr(
        f"floor(ln({u}) / CAST({weight_sql} AS DOUBLE) * 1000000000 + 0.5) / 1000000000"
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_sql: str,
    stratum_col: str,
    m: int,
    seed: int = 1,
) -> DataFrame:
    """Top-m weighted sample per stratum: one shuffle on the stratum
    key, rank by the A-Res key desc (keys are ≤ 0; closer to 0 wins —
    heavier rows win more often), id tie-break. At 100 TB this is the
    sampler that never needs a global state: the key is a narrow
    projection, and a skewed stratum degrades to one task's window
    sort of that stratum only (swap in a per-partition partial top-m
    + re-rank if a stratum outgrows a task)."""
    from pyspark.sql.window import Window

    keyed = df.withColumn("wkey", weighted_sample_expr(id_col, weight_sql, seed))
    w = Window.partitionBy(stratum_col).orderBy(F.col("wkey").desc(), F.col(id_col).asc())
    return keyed.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= m)


def k_anonymity(
    df: DataFrame,
    id_col: str,
    quasi_cols: list[str],
    k: int = 10,
) -> DataFrame:
    """Suppression-based k-anonymity gate for dataset release: every
    row tagged with the size of its quasi-identifier equivalence class
    and ``keep = 1`` iff that class has ≥ k members — rows whose
    metadata combination is rare enough to re-identify are suppressed,
    the standard pre-release privacy audit for the per-record metadata
    (source, language, geography, segment) that ships alongside
    training corpora. Output ``(id, *quasi_cols, class_size, keep)``;
    generalization (coarsening a column until classes merge) is the
    domain-specific complement — run this audit per candidate
    generalization and pick the coarsest that passes.

    Scale design (100 TB): one window shuffle on the quasi key — the
    class count is a map-side-combinable aggregate the window executes
    per partition after the shuffle; no join, no second pass. Skewed
    quasi keys (huge classes) are harmless here: the window computes
    only a count."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    from pyspark.sql.window import Window

    w = Window.partitionBy(*quasi_cols)
    return df.select(
        id_col,
        *quasi_cols,
        F.count(F.lit(1)).over(w).cast("long").alias("class_size"),
    ).withColumn("keep", (F.col("class_size") >= k).cast("int"))


def l_diversity(
    df: DataFrame,
    id_col: str,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """Distinct l-diversity gate — the release audit k-anonymity alone
    cannot give (Machanavajjhala et al., ICDE 2006): a class can have
    ≥ k members yet expose everyone when they all share ONE sensitive
    value. Every row is tagged with its quasi-identifier class size
    AND the number of distinct sensitive values in that class;
    ``keep = 1`` iff the class carries ≥ l distinct sensitive values.
    Run downstream of :func:`k_anonymity` (same quasi key, same
    shuffle) for the joint k-anonymous + l-diverse release gate.

    NULL sensitive values count as one distinct value (dense_rank
    semantics, identical in both engines regardless of NULL sort
    position) — a class of all-NULL sensitives is NOT diverse, which
    is the conservative reading for a release gate.

    Scale design (100 TB): distinct-per-class is computed WITHOUT a
    count-distinct join-back — ``max(dense_rank)`` over two windows on
    the SAME quasi-key partition, so the audit costs exactly one
    shuffle like k_anonymity; skewed classes only deepen a sort that
    is per-partition after the shuffle."""
    if l < 1:
        raise ValueError(f"l must be >= 1, got {l}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    from pyspark.sql.window import Window

    wq = Window.partitionBy(*quasi_cols)
    wo = wq.orderBy(sensitive_col)
    return (
        df.select(
            id_col,
            *quasi_cols,
            F.col(sensitive_col),
            F.count(F.lit(1)).over(wq).cast("long").alias("class_size"),
            F.dense_rank().over(wo).alias("_dr"),
        )
        .withColumn("l_count", F.max("_dr").over(wq).cast("long"))
        .withColumn("keep", (F.col("l_count") >= l).cast("int"))
        .drop("_dr")
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
    weight_col: str | None = None,
) -> DataFrame:
    """t-closeness audit — the third gate of the release-privacy triad
    (Li, Li & Venkatasubramanian, ICDE 2007), run beside
    :func:`k_anonymity` and :func:`l_diversity`: a class can be
    k-anonymous AND l-diverse yet still leak when its sensitive-value
    DISTRIBUTION differs sharply from the corpus (the paper's salary
    example: a class whose three distinct salaries are all the lowest
    three). Per quasi-identifier class this emits both standard
    distances between the class distribution p and the global
    distribution q over the sensitive values:

    - ``t_tvd``   = ½ Σ_j |p_j − q_j| (total variation — EMD under the
      uniform ground distance, the categorical-attribute metric);
    - ``t_emd``   = (1/(m−1)) Σ_i |Σ_{j≤i} (p_j − q_j)| over the m
      globally-observed values in sorted order (ordered EMD — the
      paper's numeric-attribute metric);
    - ``keep = 1`` iff ``t_emd ≤ t``.

    Determinism contract (repo oracle convention): both distances are
    computed in EXACT integer arithmetic — p_j − q_j is scaled to the
    common denominator n_c·N as ``cnt_j·N − g_j·n_c`` (all BIGINT) and
    the absolute sums divide ONCE at the end (then round(6)), so Spark
    and DuckDB agree bit-for-bit. BIGINT ceiling: |diff| ≤ n_c·N ≤ N²,
    so the pipeline is exact to N ≈ 3·10⁹ audited rows; past that,
    pre-aggregate per shard or widen to DECIMAL(38,0).

    Scale design (100 TB): ONE corpus shuffle builds the
    (class, value) cell counts with map-side combine; everything after
    runs on sketch-sized frames — the global value histogram is a
    SEMANTIC dimension (|values| rows) folded into one broadcast row
    (collect_list + totals, the scalar-broadcast class), the dense
    class×value grid is |classes|·|values| rows, and the per-class
    cumulative window sorts |values| rows per class. Skewed classes
    are harmless: after the cell agg, every structure is
    cardinality-bounded, not row-bounded.

    NULL sensitive values: ``t_tvd`` is order-free and treats NULL as
    one more category, but the cumulative ``t_emd`` depends on value
    ORDER and Spark/DuckDB disagree on NULL placement — coalesce NULLs
    to a sentinel before calling if the column is nullable (the
    registered audit's band column is derived non-NULL). NULL QUASI
    values are fine: they form their own class (the internal grid
    join is null-safe).

    ``weight_col``: when the input is already a pre-aggregated cell
    frame — (quasi…, value, count) from an upstream groupBy, the
    normal shape once a 100 TB corpus has been reduced once — pass the
    count column here and the audit sums weights instead of counting
    rows, skipping the corpus shuffle entirely (the cell agg then runs
    on the already-small frame). Weighted and row-level calls are
    exactly equivalent: sum-of-weights is the same BIGINT the row
    count would have produced, and cells whose weights sum to zero (or
    NULL) are dropped — present-with-zero-weight and absent are the
    same thing, so a zero cell must not inflate the distinct-value
    count m the EMD denominator uses (pinned by pytest)."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if t < 0:
        raise ValueError(f"t must be >= 0, got {t}")
    from pyspark.sql.window import Window

    from ..caching import track

    # one corpus shuffle; three sketch-sized consumers follow
    _w = F.col(weight_col) if weight_col else F.lit(1)
    cells = track(
        df.groupBy(*quasi_cols, F.col(sensitive_col).alias("_v"))
        .agg(F.sum(_w).cast("long").alias("_cnt"))
        .filter(F.col("_cnt") > 0)
        .persist()
    )
    # the global histogram as ONE broadcast row: ordered (value, count)
    # pairs + corpus total + distinct-value count
    vals = cells.groupBy("_v").agg(F.sum("_cnt").alias("_gv"))
    glob = vals.agg(
        F.sort_array(F.collect_list(F.struct("_v", "_gv"))).alias("_hist"),
        F.sum("_gv").cast("long").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_m"),
    )
    classes = cells.groupBy(*quasi_cols).agg(
        F.sum("_cnt").cast("long").alias("class_size")
    )
    # dense class×value grid (zero cells included — both distances need
    # the values a class is MISSING), then the observed counts back on.
    # The join is NULL-SAFE on the quasi keys (a NULL quasi value is a
    # real class; plain equality would silently zero its counts).
    gridbase = (
        classes.crossJoin(F.broadcast(glob))
        .select(*quasi_cols, "class_size", "_n", "_m", F.explode("_hist").alias("_h"))
        .select(
            *quasi_cols,
            "class_size",
            "_n",
            "_m",
            F.col("_h._v").alias("_v"),
            F.col("_h._gv").alias("_gv"),
        )
    )
    rcells = cells.select(
        *[F.col(c).alias(f"_rq{i}") for i, c in enumerate(quasi_cols)],
        F.col("_v").alias("_rv"),
        "_cnt",
    )
    cond = gridbase["_v"].eqNullSafe(rcells["_rv"])
    for i, c in enumerate(quasi_cols):
        cond = cond & gridbase[c].eqNullSafe(rcells[f"_rq{i}"])
    grid = (
        gridbase.join(rcells, cond, "left")
        .drop("_rv", *[f"_rq{i}" for i in range(len(quasi_cols))])
        .withColumn("_cnt", F.coalesce(F.col("_cnt"), F.lit(0)))
        # exact p_j − q_j over the common denominator class_size·N
        .withColumn(
            "_diff",
            F.col("_cnt").cast("long") * F.col("_n")
            - F.col("_gv").cast("long") * F.col("class_size"),
        )
    )
    wcum = (
        Window.partitionBy(*quasi_cols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        grid.withColumn("_cum", F.sum("_diff").over(wcum))
        .groupBy(*quasi_cols, "class_size", "_n", "_m")
        .agg(
            F.sum(F.abs("_diff")).cast("long").alias("_tvd_num"),
            F.sum(F.abs("_cum")).cast("long").alias("_emd_num"),
        )
        .select(
            *quasi_cols,
            "class_size",
            F.round(
                F.col("_tvd_num")
                / (F.lit(2.0) * F.col("class_size") * F.col("_n")),
                6,
            ).alias("t_tvd"),
            F.round(
                F.col("_emd_num")
                / (
                    F.greatest(F.col("_m") - 1, F.lit(1)).cast("double")
                    * F.col("class_size")
                    * F.col("_n")
                ),
                6,
            ).alias("t_emd"),
        )
        .withColumn("keep", (F.col("t_emd") <= F.lit(t)).cast("int"))
    )
    return out
