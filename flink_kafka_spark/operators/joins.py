"""Time-bounded joins (SURVEY.md §2.9 J1-J2).

The reference's whole join surface is two streaming equi-key
time-bounded joins: an interval join (``TxPayMatchByJoin.java:63-80``,
receipt.ts ∈ [pay.ts-3s, pay.ts+5s]) and a connected-streams
reconciliation with unmatched-side outputs
(``TxPayMatch.java:71-141``). Batch Spark expresses both as ordinary
joins — equi-key plus a range residual — and Catalyst picks
broadcast / shuffled-hash / sort-merge; the streaming variants live in
``flink_kafka_spark.streaming``.

Side outputs (Flink ``OutputTag``) become a **tagged-union column**
``result_type`` on one DataFrame — the engine-wide convention for
multi-output operators (SURVEY.md §1.4).

Scale notes: the equi-key carries the shuffle; the range predicate is
evaluated as a join residual, not a cross product. Small sides should
be broadcast by the caller (``F.broadcast``) or left to AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    left_ts: Column,
    right_ts: Column,
    lower_s: int,
    upper_s: int,
) -> DataFrame:
    """J1: inner join where right_ts ∈ [left_ts + lower_s, left_ts +
    upper_s] and the equi-condition ``on`` holds."""
    cond = (
        on
        & (right_ts >= left_ts + F.expr(f"INTERVAL {lower_s} SECONDS"))
        & (right_ts <= left_ts + F.expr(f"INTERVAL {upper_s} SECONDS"))
    )
    return left.join(right, cond, "inner")


def interval_join_binned(
    left: DataFrame,
    right: DataFrame,
    key_cols: tuple[str, str],
    ts_cols: tuple[str, str],
    lower_s: int,
    upper_s: int,
) -> DataFrame:
    """J1 scale path for BIG-BIG interval joins: when neither side
    fits in a broadcast, a plain range residual degenerates (the
    equi-key may be skewed or absent, and the planner falls back to
    BNLJ for pure range predicates). Standard fix: quantize time into
    bins of width = (upper−lower), explode the LEFT side to the 2
    bins its match window can touch, and equi-join on (key, bin) —
    each right row shuffles once, each left row twice, and the exact
    range predicate filters the residual. Never a cross product, no
    broadcast requirement, partition count scales with data.

    Equivalent to :func:`interval_join` (inner, right_ts ∈
    [left_ts+lower, left_ts+upper]); parity is pinned in
    tests/test_properties.py."""
    lk, rk = key_cols
    lts, rts = ts_cols
    width = max(upper_s - lower_s, 1)
    lt = left.withColumn("_lts_s", F.col(lts).cast("long"))
    rt = right.withColumn("_rts_s", F.col(rts).cast("long"))
    # left row's window [lts+lower, lts+upper] spans ≤2 width-sized bins
    lt = lt.withColumn(
        "_lbin",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("_lts_s") + lower_s) / width),
                    F.floor((F.col("_lts_s") + upper_s) / width),
                )
            )
        ),
    )
    rt = rt.withColumn("_rbin", F.floor(F.col("_rts_s") / width))
    joined = lt.join(
        rt,
        (lt[lk] == rt[rk])
        & (lt["_lbin"] == rt["_rbin"])
        & (rt["_rts_s"] >= lt["_lts_s"] + lower_s)
        & (rt["_rts_s"] <= lt["_lts_s"] + upper_s),
        "inner",
    )
    return joined.drop("_lbin", "_rbin", "_lts_s", "_rts_s")


def reconcile_full_outer(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    left_tag: str = "unmatched_left",
    right_tag: str = "unmatched_right",
) -> DataFrame:
    """J2: full-outer equi-join; null-padded sides become the
    'unmatched' side outputs, matched rows the main output — one
    DataFrame with a ``result_type`` tag column."""
    lk = left.columns[0]
    rk = right.columns[0]
    joined = left.join(right, on, "full_outer")
    return joined.withColumn(
        "result_type",
        F.when(F.col(lk).isNotNull() & F.col(rk).isNotNull(), F.lit("matched"))
        .when(F.col(rk).isNull(), F.lit(left_tag))
        .otherwise(F.lit(right_tag)),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Opt-in hot-key equi-join (the manual form of AQE's skew-join
    split, for when runtime stats miss the skew or AQE is off): the
    big/skewed LEFT side gets a random salt in [0, n_salts); the RIGHT
    side is replicated n_salts-fold; the join key becomes (key, salt),
    spreading one hot key over n_salts reducers. Row-identical to the
    plain equi-join.

    Cost model: right side inflates n_salts× — use only when right is
    moderate (but too big / too dynamic to broadcast) and a single hot
    key would otherwise serialize one reducer. Inner join only (outer
    variants would need null-side dedup across salt replicas)."""
    l = left.withColumn("_salt", (F.rand(seed=7) * n_salts).cast("int"))
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return (
        l.join(r, (l[left_key] == r[right_key]) & (l["_salt"] == r["_salt"]), "inner")
        .drop("_salt")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tiebreak: str,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` for the same key (timestamp ties resolved
    by the greatest ``tiebreak`` value — deterministic).

    Spark has no ASOF JOIN; a naive range join explodes candidates.
    This is the scale-correct union+window formulation: tag both
    sides, sort each key's timeline once (right rows before left rows
    at equal timestamps), and carry the last-seen right payload
    forward with last(ignorenulls) — ONE shuffle on the key, no range
    fan-out, any key cardinality. Output: left columns + asof_<payload>
    (null when no right row precedes).
    """
    lt = left.select(
        F.col(left_key).alias("_k"),
        F.col(left_ts).cast("long").alias("_ts_s"),
        F.lit(1).alias("_is_left"),
        F.lit(None).cast("long").alias("_tb"),
        *[F.col(c).alias(f"_l_{c}") for c in left.columns],
    )
    rt = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_ts).cast("long").alias("_ts_s"),
        F.lit(0).alias("_is_left"),
        F.col(tiebreak).cast("long").alias("_tb"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("_payload"),
    )
    merged = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts_s").asc(), F.col("_is_left").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = merged.withColumn("_asof", F.last("_payload", ignorenulls=True).over(w))
    return merged.filter(F.col("_is_left") == 1).select(
        *[F.col(f"_l_{c}").alias(c) for c in left.columns],
        *[F.col(f"_asof.{c}").alias(f"asof_{c}") for c in payload_cols],
    )


def fuzzy_match_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    max_dist: int = 2,
    block: Column | None = None,
    max_block: int | None = None,
) -> DataFrame:
    """Record linkage by blocking + edit-distance verification: every
    unordered pair of rows that shares a blocking key and whose
    ``name_col`` values are within Levenshtein ``max_dist`` — the
    classic entity-resolution join (near-identical product/supplier/
    person names that exact equality misses). Output
    ``(a_key, b_key, a_name, b_name, lev_dist)`` with ``a_key <
    b_key`` (each pair once). Cross-table linkage is the same join
    with the two sides loaded from different snapshots.

    ``block`` is the blocking expression over a row (default: first
    whitespace token of the lowercased name). Blocking is the RECALL
    KNOB: only same-block pairs are compared, so a typo in the
    blocking token hides a match — production linkage runs several
    complementary blocking passes (first token, phonetic key, length
    band) and unions the pair sets, which is this operator invoked
    once per key.

    Scale design (100 TB): the candidate generator is a single
    equi-join on the blocking key — the all-pairs comparison never
    exists. A length-band residual (``|len(a) − len(b)| ≤ max_dist``,
    a Levenshtein lower bound) discards most candidates before the
    O(len²) edit-distance kernel runs, and both filters evaluate
    JVM-side inside the join. Block sizes bound the quadratic term:
    a hot blocking key (every "john" in a person table) is the skew
    risk, bounded two ways: choose more selective keys (salting a
    self-join's block key would drop pairs), and/or pass ``max_block``
    — blocks larger than it additionally fold the length-band residual
    INTO the join key (length buckets of width ``max_dist+1``, probe
    side replicated into the ±1 neighbor buckets). That loses ZERO
    recall — the band ``|len(a) − len(b)| ≤ max_dist`` is already a
    hard filter, and a within-band pair's buckets differ by at most 1
    — but turns a hot block's candidate term from H² into
    Σ bucket_size × 3·bucket_size (the stress probe measures ~L× on a
    planted 20%-hot key, L = distinct length buckets in the block).
    Costs one extra narrow count aggregation + a broadcast of the
    (few) hot keys; cold blocks take the exact original path."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    # layout spread BEFORE the candidate join (guide §2.5): at
    # test SF the block join broadcasts its build side, so the probe
    # side is the bare catalog scan — on an unsplittable single-file
    # input that is ONE task, and the whole candidate fan-out plus the
    # Levenshtein kernel ran serialized on one core (profiled: 3.3 s
    # of single-task CPU at sf0.1, the row's entire wall). On a
    # many-file 100 TB catalog the spread is a structural no-op. The
    # frame is spread un-projected because ``block`` may reference any
    # of its columns; column pruning through the round-robin exchange
    # keeps the moved rows narrow.
    from ..tables import spread_scan

    df = spread_scan(df)
    blk = (
        block
        if block is not None
        else F.split(F.lower(F.col(name_col)), r"\s+").getItem(0)
    )
    # equality short-circuit before the DP kernel: exact-duplicate
    # names dominate real catalogs (and any low-cardinality one —
    # measured 66% of the sf0.1 part candidates), and a string
    # equality test is O(len) vs the DP kernel's cost. The kernel is
    # the BANDED 3-arg levenshtein (Spark 3.5+): O(len·max_dist)
    # instead of O(len²), exact for every distance <= max_dist and -1
    # beyond — the verification filter keeps only distances <=
    # max_dist, so surviving rows carry the identical exact distance
    # and the -1 band is exactly the discarded set (measured:
    # the kernel was the candidate-verify wall).
    lev = F.when(F.col("a_name") == F.col("b_name"), F.lit(0)).otherwise(
        F.levenshtein("a_name", "b_name", max_dist)
    )
    if max_block is None:
        a = df.select(
            F.col(key_col).alias("a_key"),
            F.col(name_col).alias("a_name"),
            blk.alias("_block"),
        )
        b = df.select(
            F.col(key_col).alias("b_key"),
            F.col(name_col).alias("b_name"),
            blk.alias("_block"),
        )
        joined = a.join(b, "_block")
    else:
        # hot-block split: (_block, _jb) is the join key, where _jb is
        # the length bucket for hot rows and a sentinel for cold rows —
        # a two-column key, so refined hot keys can never collide with
        # a cold block's string (concat would allow that)
        width = max_dist + 1
        cold_jb = F.lit(-(1 << 31))
        base = df.select(
            F.col(key_col).alias("_key"),
            F.col(name_col).alias("_name"),
            blk.alias("_block"),
        )
        hot = F.broadcast(
            base.groupBy("_block")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_block)
            .select("_block", F.lit(True).alias("_hot"))
        )
        flagged = base.join(hot, "_block", "left")
        bucket = F.floor(F.length("_name") / width)
        a = flagged.select(
            F.col("_key").alias("a_key"),
            F.col("_name").alias("a_name"),
            "_block",
            F.when(F.col("_hot"), bucket).otherwise(cold_jb).alias("_jb"),
        )
        offs = F.when(F.col("_hot"), F.array(F.lit(-1), F.lit(0), F.lit(1))).otherwise(
            F.array(F.lit(0))
        )
        b = flagged.select(
            F.col("_key").alias("b_key"),
            F.col("_name").alias("b_name"),
            "_block",
            F.when(F.col("_hot"), bucket).otherwise(cold_jb).alias("_jb0"),
            F.explode(offs).alias("_off"),
        ).select(
            "b_key", "b_name", "_block", (F.col("_jb0") + F.col("_off")).alias("_jb")
        )
        joined = a.join(b, ["_block", "_jb"])
    return (
        joined.filter(F.col("a_key") < F.col("b_key"))
        .filter(
            F.abs(F.length("a_name") - F.length("b_name")) <= F.lit(max_dist)
        )
        .withColumn("lev_dist", lev)
        # banded kernel contract: values in [0, max_dist] are exact,
        # -1 means "beyond the band" — so >= 0 IS <= max_dist
        .filter(F.col("lev_dist") >= 0)
        .select("a_key", "b_key", "a_name", "b_name", F.col("lev_dist").cast("int").alias("lev_dist"))
    )


def fuzzy_match_pairs_multi(
    df: DataFrame,
    key_col: str,
    name_col: str,
    max_dist: int = 2,
    blocks: "list[Column] | None" = None,
) -> DataFrame:
    """Multi-pass blocked fuzzy linkage: run :func:`fuzzy_match_pairs`
    once per blocking expression and union the pair sets — the
    standard recall recovery for blocking-based linkage, because a
    typo that breaks one blocking key (a first-token misspelling)
    rarely breaks all of them. Default passes: first whitespace token;
    LAST whitespace token; (name length, first character). Output
    schema matches the single-pass operator; pairs found by several
    passes appear once.

    Scale design: P passes = P bounded block joins over narrow
    (key, name, block) projections + ONE pair-keyed distinct — the
    union multiplies candidate work by P (choose 2-3 complementary
    keys, not ten), never by catalog size. Recall composes: a pair is
    missed only if EVERY pass's blocking key is broken for it."""
    from functools import reduce

    if blocks is None:
        toks = F.split(F.lower(F.col(name_col)), r"\s+")
        blocks = [
            toks.getItem(0),
            F.element_at(toks, -1),
            F.concat_ws("|", F.length(name_col), F.substring(F.lower(F.col(name_col)), 1, 1)),
        ]
    if not blocks:
        raise ValueError("blocks must be non-empty")
    passes = [
        fuzzy_match_pairs(df, key_col, name_col, max_dist, block=b) for b in blocks
    ]
    return reduce(lambda a, b: a.unionByName(b), passes).distinct()
