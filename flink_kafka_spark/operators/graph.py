"""Iterative graph algorithms beyond connected components (which lives
with its dedup consumers in operators/dedup.py).

PageRank here is the corpus-curation use: rank crawl sources/domains by
overlap centrality so corpus-merge decisions (which near-duplicate
crawl to keep, which source to down-weight) have a principled score —
the same role harmonic-centrality/PageRank plays in public web-corpus
quality pipelines.

Determinism contract: the iteration is FIXED-POINT INTEGER arithmetic
(rank mass in `unit` = 1e9 units, floor division everywhere), so the
result is bit-identical across engines, partitionings and runs — a
DuckDB oracle replays the exact same iterations with `//` where Spark
uses `div` (both truncate; all operands here are non-negative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    iterations: int = 12,
    damping_pct: int = 85,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Weighted PageRank over ``edges (src, dst, w BIGINT)`` and
    ``nodes (id_col)``: ``iterations`` fixed rounds of

        r'(v) = teleport + (damping_pct * sum_{u->v} (r(u)*w(u,v) div
                wsum(u))) div 100,
        teleport = ((100-damping_pct) * (unit div N)) div 100

    starting from r0 = unit div N. Dangling nodes (no out-edges)
    contribute nothing and settle at the teleport floor; their leaked
    mass is NOT redistributed (deterministic, documented — rank order
    is unaffected for the connected bulk).

    PRECONDITION: every edge endpoint (src AND dst) must appear in
    ``nodes``. A dst outside ``nodes`` emits a phantom rank row for it
    (the per-round groupBy folds zero rows for ``nodes`` only, it does
    not filter contributions), and a src outside ``nodes`` silently
    contributes nothing after round 0 — while N/teleport are computed
    from ``nodes`` alone either way. All in-repo callers derive nodes
    and edges from the same frame; external callers must too. An empty
    ``nodes`` with no edges gives an empty ranking; with edges it fails
    the dst check.

    Scale shape: the weighted-out-degree join is precomputed ONCE into
    a persisted (src, dst, w, wsum) frame; each round then costs one
    rank-frame join onto it plus one edges-sized groupBy(dst) shuffle —
    the inherent PageRank cost. The rank-side join carries no
    broadcast hint: the rank frame is node-count-sized, so the planner
    (and AQE at runtime) picks the join, which localizes tiny rank
    frames anyway and — the scale contract — never plans a driver-side
    broadcast build of a billion-node rank frame. A hint would also
    cost one broadcast-collect JOB per round (it forces a collect even
    when the frame is already cached), measured 6.6 s vs 3.8 s for the
    12-round loop at sf0.1, so even the bounded source-level query
    runs unhinted.
    N is a single-int driver scalar (same justification as the CC
    convergence probe). Rank frames are LAZY-localCheckpointed with an
    explicit count() as the materializing action (the CC loop's
    lifecycle, operators/dedup.py:_cc_labels — eager=True would run a
    job inside the RDD-id delta window and sweep the edge cache id,
    see _chk), and the cut runs in batches of CHK_EVERY=3 rounds, not
    every round: without any cut, round i's logical plan contains all
    i-1 predecessors and Catalyst re-analyzes the whole tree per
    round — measured 49 s for 12 rounds at sf0.1 vs ~4 s batched. The
    previous round's checkpoint blocks are dropped as soon as the new
    round is materialized (the loop holds two node-sized rank frames
    at most); the final round's blocks back the returned frame, so
    they are registered with caching.track_rdds and released at the
    next query boundary."""
    from ..caching import persistent_rdd_ids, track, track_rdds, unpersist_rdds

    sc = edges.sparkSession.sparkContext

    def _chk(df: DataFrame) -> "tuple[DataFrame, frozenset[int]]":
        # LAZY checkpoint: the RDD registers synchronously at the call
        # (the _cc_labels contract), so the id delta contains ONLY the
        # checkpoint RDD. An eager=True checkpoint runs a job inside
        # the delta window, and the first such job also materializes
        # the persisted edge frame — whose cache RDD id would then be
        # swept into `live` and destroyed at the next cut, silently
        # recomputing edges+wsum every round thereafter. The caller
        # materializes explicitly.
        before = persistent_rdd_ids(sc)
        out = df.localCheckpoint(eager=False)
        return out, frozenset(persistent_rdd_ids(sc) - before)

    node_frame = track(nodes.select(F.col(id_col).alias("node")).persist())
    n = node_frame.count()
    # loud precondition: every edge dst must be a declared node. The
    # old node_frame-LEFT-JOIN formulation silently DROPPED outside
    # dsts each round; the zeros-union rewrite would instead emit
    # phantom rank rows computed against the wrong N — neither is what
    # the caller meant, so fail at build time (one edges pass; the
    # loop pays an edges-sized join per round anyway). src endpoints
    # need no check: the inner rank join drops unknown srcs in both
    # formulations identically.
    dangling = edges.join(
        node_frame, edges["dst"] == node_frame["node"], "left_anti"
    )
    if dangling.limit(1).count():
        raise ValueError(
            "pagerank: edges reference dst nodes absent from `nodes` — "
            "pass a node frame covering every dst endpoint"
        )
    if n == 0:  # empty graph: an empty ranking (unit div N is undefined)
        return node_frame.select("node", F.lit(0).cast("long").alias("rank_e9"))
    base = unit // n
    teleport = (100 - damping_pct) * base // 100

    # ONE-TIME setup join of the per-src weight sums onto the edges.
    # No broadcast hint (the rank join's discipline): wsum is
    # NODE-COUNT-sized, so a forced broadcast is a driver collect that
    # dies on the 8 GB ceiling for a billion-node graph, while AQE
    # broadcasts it at runtime whenever
    # it is genuinely small (the bounded source-level query here) and
    # degrades to a co-partitioned shuffle otherwise — and both edge
    # frames are persisted, so either plan executes exactly once.
    wsum = edges.groupBy("src").agg(F.sum("w").alias("wsum"))
    # pre-partitioned on src before the persist (guide §2.4
    # "two operations keyed the same way can share one exchange") —
    # the CC loop's symmetrized-edge layout applied here: every round
    # joins the rank frame on e.src, so a persisted hash(src) layout
    # lets the planner satisfy the join's edge-side distribution from
    # the cache instead of re-exchanging the (billion-edge at scale)
    # frame each of the `iterations` rounds; one extra setup exchange
    # buys `iterations` elided ones
    e = track(
        edges.join(wsum, "src")
        .select("src", "dst", "w", "wsum")
        .repartition("src")
        .persist()
    )
    ranks = node_frame.withColumn("r", F.lit(base).cast("long"))
    live: frozenset[int] = frozenset()
    # Checkpoint every CHK_EVERY rounds, not every round: the cut only
    # needs to keep the analyzed tree SHALLOW (depth <= 3 is cheap for
    # Catalyst), and results are identical wherever the lineage is cut
    # (pure integer arithmetic). With no rank broadcast hint, the
    # loop's only job barriers are the CHK_EVERY materializations (4
    # for 12 rounds); measured cadence sweep at sf0.1 (3 trials, min):
    # chk2 4.0 s, chk3 3.7 s, chk4 3.7 s, chk6 4.3 s — flat around 3,
    # so CHK_EVERY=3 stands.
    CHK_EVERY = 3
    # zero-contribution rows folded into the per-round groupBy replace
    # the old `node_frame LEFT JOIN broadcast(summed)`: same integer
    # result (a dangling node's sum is the +0 row instead of a
    # coalesced NULL) with one less broadcast exchange per round and
    # no node-sized broadcast at all — the summed frame never crosses
    # the driver even for a billion-node graph.
    zeros = node_frame.select("node", F.lit(0).cast("long").alias("c"))
    for i in range(iterations):
        # one round: the rank-side join onto the persisted edge frame,
        # then the groupBy(dst) fold with the zero rows unioned in
        contrib = e.join(ranks, e["src"] == ranks["node"]).select(
            F.col("dst").alias("node"), F.expr("(r * w) div wsum").alias("c")
        )
        ranks = (
            contrib.unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
            .select(
                "node",
                (F.lit(teleport) + F.expr(f"({damping_pct} * s) div 100"))
                .cast("long")
                .alias("r"),
            )
        )
        if (i + 1) % CHK_EVERY == 0 or i + 1 == iterations:
            ranks, new_ids = _chk(ranks)
            ranks.count()  # materialize the new cut (a localCheckpoint
            # cannot be recomputed once its predecessor's blocks drop)
            unpersist_rdds(sc, live)
            live = new_ids
    track_rdds(live, sc=sc)
    return ranks.select("node", F.col("r").alias("rank_e9"))
