"""Similarity search over embedding columns (engine extension).

Brute-force cosine top-k is the exact baseline; the scale path buckets
vectors with sign-random-projection LSH so each query probes only its
bucket (recall < 1, tunable with more hyperplanes/probes). Both paths
compute the cosine JVM-side (zip_with/aggregate higher-order functions
— codegen'd, no Python, no UDF serialization).

Scale notes: brute force is a broadcast nested loop — fine when the
query set is small (queries broadcast, corpus scanned once); the LSH
variant turns it into an equi-join on bucket id, which shuffles each
corpus vector once regardless of query count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import local_frame

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
_NORM = "sqrt(aggregate(transform({v}, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"


def _as_double(df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias(out_vec),
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. The query side is
    broadcast; ranking is a per-query window (shuffle on query_id)."""
    q = _as_double(queries, "vec_id", "embedding", "query_id", "qv")
    c = _as_double(corpus, "vec_id", "embedding", "neighbor_id", "cv")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(
                    f"({_DOT.format(a='qv', b='cv')}) / "
                    f"(({_NORM.format(v='qv')}) * ({_NORM.format(v='cv')}))"
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def srp_bucket(df: DataFrame, id_col: str, vec_col: str, n_planes: int = 8) -> DataFrame:
    """Sign-random-projection bucket id: bit i = sign(v · h_i) where
    hyperplane h_i is a deterministic pseudo-random ±1 vector derived
    from xxhash64(i, dim-index) — reproducible across runs/engines with
    no stored model.

    pmod (not %) extracts the hash bit: Spark's % keeps the dividend's
    sign, so ``% 2`` over a signed hash yields {-1, 0, 1} and the
    component set {-1, 1, 3} — positively biased hyperplanes that skew
    bucket occupancy. ``pmod(h, 2) * 2 - 1`` is an unbiased ±1."""
    v = _as_double(df, id_col, vec_col, id_col, "v")
    bit_exprs = []
    for i in range(n_planes):
        proj = (
            f"aggregate(zip_with(v, sequence(0, size(v) - 1), "
            f"(x, j) -> x * (CAST(pmod(xxhash64(concat('{i}|', CAST(j AS STRING))), 2) AS DOUBLE) * 2 - 1)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        bit_exprs.append(f"(CASE WHEN ({proj}) >= 0 THEN {1 << i} ELSE 0 END)")
    return v.withColumn("bucket", F.expr(" + ".join(bit_exprs)))


def ivf_cells(
    corpus: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
):
    """IVF coarse quantizer: KMeans centroids over the corpus (Spark
    ML, JVM-side Lloyd iterations), corpus vectors assigned to their
    nearest cell. Returns (assigned corpus DF with ``cell``, centroid
    list as plain Python floats for broadcast-literal probing).

    Scale notes: training samples/iterates distributed; assignment is
    one narrow model.transform. The centroid table is k×dim doubles —
    kilobytes — so query-side probing is a literal expression, not a
    join."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    v = _as_double(corpus, "vec_id", "embedding", "vec_id", "v")
    feat = v.withColumn("features", array_to_vector("v"))
    model = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell").fit(feat)
    assigned = model.transform(feat).select("vec_id", "v", "cell")
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centroids


def _nearest_cells_expr(centroids: list[list[float]], nprobe: int) -> str:
    """SQL expr: the nprobe cell ids whose centroids are nearest (L2)
    to column ``v`` — centroids inlined as array literals."""
    dists = []
    for cell_id, c in enumerate(centroids):
        arr = f"array({', '.join(f'CAST({x} AS DOUBLE)' for x in c)})"
        d = (
            f"aggregate(zip_with(v, {arr}, (x, y) -> (x - y) * (x - y)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        dists.append(f"named_struct('d', {d}, 'cell', {cell_id})")
    return (
        f"transform(slice(array_sort(array({', '.join(dists)}), "
        f"(l, r) -> CASE WHEN l.d < r.d THEN -1 WHEN l.d > r.d THEN 1 "
        f"WHEN l.cell < r.cell THEN -1 ELSE 1 END), 1, {nprobe}), s -> s.cell)"
    )


def build_ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """The persistable IVF index for :func:`cosine_topk_ivf`: the
    assigned corpus ``(cell, id, v)`` plus the centroid table
    ``(cell, centroid)``. In production the KMeans fit runs ONCE per
    corpus snapshot — write the assignment via
    ``io.write_bucketed(index, ..., ["cell"])`` and the centroids as a
    plain n_cells-row table, then pass both back via ``ivf_index=``:
    each query batch's cell join shuffles ONLY the query side into the
    index's bucketing, and the 100 TB corpus is never re-fit,
    re-assigned, or re-shuffled (plan-pinned by
    tests/test_io.py::test_bucketed_ivf_index_join_shuffles_query_side_only).

    The (n_cells, seed) parameters are baked into the stored cells;
    ``nprobe`` stays a query-time knob."""
    assigned, centroids = ivf_cells(corpus, n_cells, seed)
    cent = local_frame(
        corpus.sparkSession, enumerate(centroids), "cell int, centroid array<double>"
    )
    return assigned.select("cell", "vec_id", "v"), cent


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    ivf_index: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Approximate top-k via IVF: corpus partitioned into KMeans cells,
    each query probes its ``nprobe`` nearest cells only — the
    candidate set shrinks ~n_cells/nprobe-fold vs brute force, and the
    cell equi-join shuffles each corpus vector once.

    With ``ivf_index`` (a :func:`build_ivf_index` pair, typically
    loaded from storage) the per-invocation KMeans fit disappears:
    ``corpus``/``n_cells``/``seed`` are ignored, the centroid table is
    collected driver-side (n_cells rows — the same kilobyte-scale
    payload the fit path inlines) and the stored assignment is joined
    directly."""
    if ivf_index is not None:
        index_df, cent_df = ivf_index
        centroids = [
            [float(x) for x in r.centroid] for r in cent_df.orderBy("cell").collect()
        ]
        if not centroids:
            raise ValueError("ivf_index centroid table is empty")
        assigned = index_df.select(F.col("vec_id"), F.col("v"), F.col("cell"))
    else:
        assigned, centroids = ivf_cells(corpus, n_cells, seed)
    q = _as_double(queries, "vec_id", "embedding", "query_id", "v").withColumn(
        "cell", F.explode(F.expr(_nearest_cells_expr(centroids, nprobe)))
    ).select("query_id", F.col("v").alias("qv"), "cell")
    c = assigned.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), "cell")
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(
                    f"({_DOT.format(a='qv', b='cv')}) / "
                    f"(({_NORM.format(v='qv')}) * ({_NORM.format(v='cv')}))"
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: SRP-bucket both sides, equi-join on bucket,
    exact cosine + rank within the bucket's candidates.

    Multi-probe: each query also probes buckets within Hamming distance
    ``probe_hamming`` of its own (flip ≤h sign bits) — the standard
    recall fix for SRP without growing the corpus-side index. Probe
    count is 1+n_planes for h=1; corpus rows still shuffle once."""
    probes = [0]
    if probe_hamming >= 1:
        probes += [1 << i for i in range(n_planes)]
    if probe_hamming >= 2:
        probes += [
            (1 << i) | (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)
        ]
    q = (
        srp_bucket(queries, "vec_id", "embedding", n_planes)
        .withColumn(
            "bucket",
            F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in probes])),
        )
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket")
    )
    c = srp_bucket(corpus, "vec_id", "embedding", n_planes).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), "bucket"
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(
                    f"({_DOT.format(a='qv', b='cv')}) / "
                    f"(({_NORM.format(v='qv')}) * ({_NORM.format(v='cv')}))"
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pq_encode(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
):
    """Product quantization: split each vector into ``m`` subvectors,
    train a KMeans codebook of ``n_codes`` centroids per subspace
    (Spark ML, distributed), and encode every vector as ``m`` small
    codes — dim·4 bytes shrink to m bytes (64-dim float32 → 8 bytes at
    the defaults, 32×). The memory-compression standard for
    billion-vector ANN serving.

    Returns (codes DF ``(id, codes array<int>)``, codebooks as plain
    Python ``[m][n_codes][sub_dim]`` floats — kilobytes, inlined as
    literal expressions downstream, never joined).

    Scale notes: training runs m KMeans fits over one cached narrow
    projection (sample the corpus first at real scale — codebooks
    converge on a few million rows); ENCODING is a single argmin
    projection over centroid literals, no model object, no join, no
    Python."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..caching import track

    v = track(_as_double(corpus, "vec_id", "embedding", "vec_id", "v").persist())
    first = v.select("v").first()  # bounded: one row
    if first is None:
        raise ValueError("pq_encode: corpus is empty — nothing to train codebooks on")
    dim = len(first[0])
    sub = dim // m
    if sub * m != dim:  # not assert: must survive python -O
        raise ValueError(
            f"pq_encode: vector dim {dim} is not divisible by m={m} subspaces"
        )
    codebooks: list[list[list[float]]] = []
    for i in range(m):
        feat = v.withColumn(
            "features", array_to_vector(F.expr(f"slice(v, {i * sub + 1}, {sub})"))
        )
        # maxIter=8: codebooks don't need full Lloyd convergence —
        # quantization error past a few iterations moves recall by
        # noise, while each extra iteration is a full pass per subspace
        model = KMeans(
            k=n_codes, seed=seed + i, maxIter=8, featuresCol="features", predictionCol="c"
        ).fit(feat)
        codebooks.append([[float(x) for x in c] for c in model.clusterCenters()])
    code_exprs = []
    for i in range(m):
        dists = []
        for code_id, c in enumerate(codebooks[i]):
            arr = f"array({', '.join(f'CAST({x} AS DOUBLE)' for x in c)})"
            d = (
                f"aggregate(zip_with(slice(v, {i * sub + 1}, {sub}), {arr}, "
                f"(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
            dists.append(f"named_struct('d', {d}, 'code', {code_id})")
        code_exprs.append(
            f"array_sort(array({', '.join(dists)}), "
            f"(l, r) -> CASE WHEN l.d < r.d THEN -1 WHEN l.d > r.d THEN 1 "
            f"WHEN l.code < r.code THEN -1 ELSE 1 END)[0].code"
        )
    codes = v.select(
        "vec_id", F.expr(f"array({', '.join(code_exprs)})").alias("codes")
    )
    return codes, codebooks


def cosine_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via product quantization with exact re-rank:
    scan the m-byte PQ codes (not the float vectors), score each
    (query, code) pair by cosine against the codebook-reconstructed
    vector, keep ``refine``·k candidates per query, then re-rank just
    those with the true float cosine. The heavy pass touches m bytes
    per corpus vector instead of 4·dim — the refine join re-reads
    floats for only refine·k·|queries| rows.

    Output schema/semantics match the other ANN paths: (query_id,
    neighbor_id, cosine, rank) with the TRUE cosine (the re-rank makes
    every emitted score exact; approximation only affects which
    candidates survive the first pass)."""
    codes, codebooks = pq_encode(corpus, m, n_codes, seed)
    sub = len(codebooks[0][0])
    # reconstructed corpus vector: concat of each subspace's centroid,
    # looked up by code from the codebook literal (m element_at calls)
    cb_arrs = []
    for i in range(m):
        cents = ", ".join(
            f"array({', '.join(f'CAST({x} AS DOUBLE)' for x in c)})"
            for c in codebooks[i]
        )
        cb_arrs.append(f"element_at(array({cents}), codes[{i}] + 1)")
    recon = f"concat({', '.join(cb_arrs)})"
    q = _as_double(queries, "vec_id", "embedding", "query_id", "qv")
    approx = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_cos",
            F.expr(
                f"({_DOT.format(a='qv', b=recon)}) / "
                f"(({_NORM.format(v='qv')}) * ({_NORM.format(v=recon)}))"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        approx.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= refine * k)
        .select("query_id", "neighbor_id", "qv")
    )
    c = _as_double(corpus, "vec_id", "embedding", "neighbor_id", "cv")
    rescored = cand.join(c, "neighbor_id").withColumn(
        "cosine",
        F.round(
            F.expr(
                f"({_DOT.format(a='qv', b='cv')}) / "
                f"(({_NORM.format(v='qv')}) * ({_NORM.format(v='cv')}))"
            ),
            6,
        ),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = 127 / max|x|, q_i = round-half-up(x_i · scale) ∈ [-127,127]
    — the standard storage/bandwidth compression before ANN serving
    (4× smaller than float32, dot products stay rank-faithful).

    Returns the long form (id, pos, q, scale): one row per component,
    scalar columns only, so the result is oracle-hashable and feeds
    columnar sinks directly. All math is double-precision IEEE on
    exact float32 inputs — bit-identical on any engine; `floor(x·s +
    0.5)` is the engine-agnostic round-half-up. Zero vectors quantize
    to NULL (nullif guard) rather than erroring.

    Scale shape: narrow projection + posexplode, zero shuffle — pure
    bandwidth at 100 TB.
    """
    v = df.select(
        F.col("vec_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    ).withColumn(
        "scale",
        127.0 / F.expr("nullif(array_max(transform(_v, x -> abs(x))), CAST(0.0 AS DOUBLE))"),
    )
    return v.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(_v, x -> CAST(floor(x * scale + 0.5) AS BIGINT))")
        ).alias("pos", "q"),
        "scale",
    ).select(
        "vec_id", F.col("pos").cast("bigint").alias("pos"), "q", "scale"
    )


_Q8 = (
    "transform({v}, x -> CAST(floor(CAST(x AS DOUBLE)"
    " * (127.0 / nullif(array_max(transform({v}, y -> abs(CAST(y AS DOUBLE)))),"
    " CAST(0.0 AS DOUBLE))) + 0.5) AS BIGINT))"
)


def cosine_topk_int8(
    queries: DataFrame, corpus: DataFrame, k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors — the
    serving-side pairing of :func:`quantize_embeddings`: 4× less
    scan bandwidth, integer dot products, ranks ~identical to float
    (per-vector symmetric scaling preserves direction up to rounding).

    Unlike stochastic ANN variants, the quantization is a pure
    floor-based function of the input floats, so the WHOLE result is
    engine-exact and carries a full value oracle (int sums are exact
    in BIGINT: |q|<=127, dim 64 -> dot <= ~1e6).

    Same scale shape as the float baseline: queries broadcast, corpus
    scanned once; at corpus scale use the LSH/IVF bucketing with these
    quantized payloads.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.expr(_Q8.format(v="embedding")).alias("qv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(_Q8.format(v="embedding")).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(
                    f"({_DOT.format(a='qv', b='cv')}) / "
                    f"(({_NORM.format(v='qv')}) * ({_NORM.format(v='cv')}))"
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then prune
    every item whose cosine similarity to a LOWER-id item in the SAME
    cluster is ≥ threshold. The min-id survivor rule makes the keep
    decision deterministic and single-pass (no iterative component
    labeling): an item survives iff no smaller-id same-cell near-dup
    exists, so each near-dup group keeps exactly its smallest-id chain
    head. Output is one row per corpus item: (id, cell, keep).

    Cross-cluster near-dup pairs are out of scope BY DESIGN (that is
    the SemDeDup trade: clustering bounds the candidate set, at the
    cost of missing pairs k-means separates); the companion
    ``semantic_dedup_check`` query measures realized within-cell
    soundness/completeness and global recall on the test corpus.

    Scale (100 TB): k-means fit + assignment are distributed JVM-side
    (see :func:`ivf_cells`); after that the ONE shuffle is the
    cell-key regroup feeding an Arrow ``applyInPandas`` that computes
    each cell's keep flags with a chunked BLAS gram matrix — the
    (n/k)² pairwise work runs vectorized instead of as an interpreted
    per-pair HOF expression, and no second pass/join over the corpus
    is needed (the earlier self-join + distinct + left-join plan cost
    3 exchanges, 2 sort-merge joins, and re-ran the pair join for the
    flag join). Per-cell memory is O(cell×dim + block×cell); operate
    with n_cells ∝ corpus size (paper: fixed ~avg cluster size) so
    per-cell cost is constant. A skewed mega-cell serializes onto one
    task under either plan (cell-key join or cell-key regroup) and
    surfaces in the ``cell`` column (``groupBy('cell').count()``)
    before it bites."""
    import numpy as np
    import pandas as pd

    id_type = corpus.schema["vec_id"].dataType.simpleString()
    assigned, _ = ivf_cells(corpus, n_cells, seed)

    def _prune_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        with np.errstate(divide="ignore", invalid="ignore"):
            u = x / np.linalg.norm(x, axis=1)[:, None]
        pruned = np.zeros(n, dtype=bool)
        # Row-block the gram matrix so a large cell never materializes
        # the full (n_c)² similarity matrix.
        block = max(64, min(2048, 10_000_000 // max(n, 1)))
        cols = np.arange(n)
        for start in range(0, n, block):
            end = min(start + block, n)
            sims = u[start:end] @ u.T
            # Spark's round() is decimal HALF_UP; floor(x*1e6 + 0.5)
            # matches it for the non-negative range that can reach the
            # threshold (np.round would use half-even).
            sims = np.floor(sims * 1e6 + 0.5) / 1e6
            # Spark orders NaN above every double, so a NaN cosine
            # (zero-norm vector) compares >= threshold there — mirror
            # that rather than numpy's NaN-comparisons-are-false.
            hit = (sims >= threshold) | np.isnan(sims)
            hit &= cols[None, :] < np.arange(start, end)[:, None]
            pruned[start:end] = hit.any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "keep": (~pruned).astype("int32"),
            }
        )

    return (
        assigned.select("vec_id", "v", "cell")
        .groupBy("cell")
        .applyInPandas(_prune_cell, schema=f"vec_id {id_type}, cell int, keep int")
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 8,
    lam: float = 0.7,
    n_candidates: int = 40,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): per query, greedily pick k results maximizing
    ``lam * sim(query, d) - (1 - lam) * max sim(d, selected)`` — the
    diversity-aware top-k a training-data pipeline uses for exemplar
    selection, where plain cosine top-k returns k near-copies.

    Plan: candidate generation is the existing distributed brute-force
    top-``n_candidates`` (swap in the LSH/IVF variant at scale); the
    candidate list (Q x C rows) is then BROADCAST into one corpus scan
    to fetch candidate vectors — the corpus is never shuffled. Both
    similarity surfaces (query-candidate and candidate-candidate) are
    computed JVM-side with the same zip_with/aggregate expressions as
    every other cosine in this module, rounded half-up to 6 dp, so the
    greedy consumes engine-deterministic doubles. The greedy itself is
    inherently sequential IN k but embarrassingly parallel ACROSS
    queries: a cogrouped applyInPandas per query over the two bounded
    frames (C and C² rows per query). Ties break to the lowest
    neighbor id (strict-> scan in ascending id order).
    """
    import math

    import pandas as pd

    from ..caching import track

    qid_t = queries.schema["vec_id"].dataType.simpleString()
    nid_t = corpus.schema["vec_id"].dataType.simpleString()
    cands = cosine_topk_bruteforce(queries, corpus, n_candidates)
    vecs = _as_double(corpus, "vec_id", "embedding", "nid", "nv")
    # candidate vectors: broadcast the small candidate list onto the
    # corpus scan; persisted once (three consumers: qsim frame + both
    # sides of the pairwise join)
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
    pairs = (
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
    )
    qsims = cv.select("query_id", "neighbor_id", "cosine")

    def _greedy(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["query_id", "neighbor_id", "mmr_rank", "score"]
        if left.empty:
            return pd.DataFrame(columns=cols)
        qid = left["query_id"].iloc[0]
        qsim = dict(zip(left["neighbor_id"], left["cosine"]))
        sim: dict = {}
        for t in right[["id_a", "id_b", "sim"]].itertuples(index=False):
            sim[(t.id_a, t.id_b)] = t.sim
            sim[(t.id_b, t.id_a)] = t.sim
        selected: list = []
        remaining = sorted(qsim)
        rows = []
        while remaining and len(selected) < k:
            best_id, best_score = None, None
            for cid in remaining:
                pen = max((sim.get((cid, s), 0.0) for s in selected), default=0.0)
                sc = lam * qsim[cid] - (1.0 - lam) * pen
                if best_score is None or sc > best_score:
                    best_id, best_score = cid, sc
            selected.append(best_id)
            remaining.remove(best_id)
            rows.append(
                (qid, best_id, len(selected), math.floor(best_score * 1e6 + 0.5) / 1e6)
            )
        return pd.DataFrame(rows, columns=cols)

    return (
        qsims.groupBy("query_id")
        .cogroup(pairs.groupBy("qid"))
        .applyInPandas(
            _greedy,
            schema=f"query_id {qid_t}, neighbor_id {nid_t}, mmr_rank int, score double",
        )
    )


def centroid_drift(
    df: DataFrame,
    group_col: str = "label",
    quant: float = 1e6,
) -> DataFrame:
    """Per-group embedding-centroid drift vs the corpus centroid:
    (group, n_vecs, cos_to_global, norm_ratio). The training-pipeline
    question behind it: did a source/shard/day's embedding mass move
    away from the corpus (cos_to_global falling) or collapse/expand
    in magnitude (norm_ratio drifting off 1)?

    Determinism contract (full value oracle): components quantize to
    BIGINT via the repo's engine-agnostic round-half-up
    ``floor(x·quant + 0.5)`` BEFORE any aggregation, so the per-(group,
    dim) sums are exact integers — order-independent across engines and
    partitionings, unlike float sums. Centroid means are then ONE
    division each, and the cosine folds 64 doubles in fixed dim order
    (the dedup_embedding_cosine convention) before the terminal
    round(6). Cosine is scale-invariant, so quantized-centroid cosine
    ≈ true cosine to ~1e-6 per component.

    Scale shape (100 TB): posexplode is pure map-side bandwidth; the
    only corpus-sized shuffle is the map-side-combined (group, dim)
    sum — ≤ |groups|·dim rows out of every task. Everything after runs
    on that tiny frame; the corpus centroid derives from the SAME
    frame (a dim-row re-aggregation), never a second scan, and joins
    back as a broadcast 1-row array.
    """
    return centroid_drift_from_sums(
        centroid_sums(df, group_col, quant), group_col
    )


def centroid_sums(
    df: DataFrame,
    group_col: str = "label",
    quant: float = 1e6,
) -> DataFrame:
    """The distributed half of :func:`centroid_drift`: exact-BIGINT
    per-(group, dim) component sums ``(g, pos, s, c)``. These are the
    state the streaming monitor holds — integer addition merges them
    exactly under any batch split."""
    ex = df.select(
        F.col(group_col).alias("g"),
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
                f" * CAST({quant!r} AS DOUBLE) + 0.5) AS BIGINT))"
            )
        ).alias("pos", "q"),
    )
    return ex.groupBy("g", "pos").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("c")
    )


def centroid_drift_from_sums(per: DataFrame, group_col: str = "label") -> DataFrame:
    """The scoring half of :func:`centroid_drift`, over a ``(g, pos,
    s, c)`` sums frame — shared verbatim by the batch operator and the
    streaming monitor so their outputs cannot drift.

    Zero-norm degradation: a group (or corpus) whose quantized
    centroid is the all-zero vector has no direction — cosine and the
    norm ratio emit NULL for it instead of tripping ANSI
    DIVIDE_BY_ZERO and killing the job (same NULL-degradation
    convention as the DQ audit's zero-denominator ratios)."""
    lab = per.groupBy("g").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, CAST(s AS DOUBLE)"
            " / c AS m))), e -> e.m)"
        ).alias("m"),
        F.max("c").alias("n_vecs"),
    )
    glob = (
        per.groupBy("pos")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, CAST(s AS DOUBLE)"
                " / c AS m))), e -> e.m)"
            ).alias("gm")
        )
    )
    dot = "aggregate(zip_with(m, gm, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    nl = "aggregate(transform(m, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    ng = "aggregate(transform(gm, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    return (
        lab.crossJoin(F.broadcast(glob))
        .select(
            F.col("g").alias(group_col),
            "n_vecs",
            F.round(
                F.expr(
                    f"CASE WHEN ({nl}) > 0 AND ({ng}) > 0"
                    f" THEN ({dot}) / (sqrt({nl}) * sqrt({ng})) END"
                ),
                6,
            ).alias("cos_to_global"),
            F.round(
                F.expr(
                    f"CASE WHEN ({ng}) > 0 THEN sqrt({nl}) / sqrt({ng}) END"
                ),
                6,
            ).alias("norm_ratio"),
        )
    )
