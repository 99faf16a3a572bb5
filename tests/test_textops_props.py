"""Property tests for the retrieval/assembly text operators: chunk
coverage/overlap invariants and int8 quantization round-trip bounds —
the structural guarantees the cell-level oracle can't express."""

import pytest

from pyspark.sql import functions as F

from flink_kafka_spark.operators.similarity import quantize_embeddings
from flink_kafka_spark.operators.sketches import count_min_sketch
from flink_kafka_spark.operators.text import (
    bpe_apply_merges,
    bpe_learn_merges,
    bpe_train_and_tokenize,
    chunk_documents,
    tfidf_top_terms,
)
from flink_kafka_spark.tables import load

CHUNK, STRIDE = 64, 48


def test_chunks_cover_every_token(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk=CHUNK, stride=STRIDE)
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("sum_chunk_tokens"),
            F.min("n_chunk_tokens").alias("min_chunk_tokens"),
        )
        .collect()
    )
    n_toks = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.expr(
                "size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"
            ).alias("n"),
        ).collect()
    }
    for r in per_doc:
        n = n_toks[r.doc_id]
        # starts at 0, STRIDE, ... while start < n  ->  ceil(n/STRIDE)
        assert r.n_chunks == -(-n // STRIDE)
        assert r.min_chunk_tokens >= 1
        # each token lands in >=1 chunk; overlap duplicates at most
        # (CHUNK - STRIDE) tokens per non-initial chunk
        assert r.sum_chunk_tokens >= n
        assert r.sum_chunk_tokens <= n + (r.n_chunks - 1) * (CHUNK - STRIDE)


def test_quantization_roundtrip_bound(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    # |x - q/scale| <= 0.5/scale  (round-half-up), and q in [-127, 127]
    orig = emb.select(
        "vec_id",
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias("pos", "x"),
    )
    joined = q.join(orig, ["vec_id", "pos"])
    bad = joined.filter(
        (F.abs(F.col("x") - F.col("q") / F.col("scale")) > 0.5 / F.col("scale"))
        | (F.abs(F.col("q")) > 127)
    ).count()
    assert bad == 0
    # every vector quantizes its max-|x| component to exactly +/-127
    hit = (
        joined.groupBy("vec_id").agg(F.max(F.abs(F.col("q"))).alias("mx")).filter("mx <> 127")
    ).count()
    assert hit == 0


def test_tfidf_ranks_are_dense_topk(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    top = tfidf_top_terms(docs, k=3)
    per_doc = top.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sort_array(F.collect_list("rank")).alias("ranks"),
        F.min("score").alias("min_score"),
    )
    assert per_doc.filter("n > 3 OR ranks <> slice(array(1,2,3), 1, n)").count() == 0
    assert per_doc.filter("min_score <= 0").count() == 0
    # every document produces at least one characteristic term
    assert per_doc.count() == docs.count()


def test_tfidf_doc_filter_broadcast_gate_row_identical(spark, sf_dir):
    """The doc_filter branch's broadcast-hinted vocabulary joins (the
    bounded-batch scale contract) change only join strategy, never
    rows: the filtered ranking equals the unfiltered ranking
    restricted to the filtered docs."""
    docs = load(spark, sf_dir, "documents")
    flt = F.col("doc_id") < 5

    def key(df):
        return {tuple(r) for r in df.collect()}

    base = key(tfidf_top_terms(docs, k=3).filter(flt))
    assert key(tfidf_top_terms(docs, k=3, doc_filter=flt)) == base


def test_degenerate_docs_no_crash(spark):
    """ADVICE r2: zero-token docs crashed chunk_documents ('Illegal
    sequence boundaries') and 1-token docs crashed repetition_stats
    (descending sequence -> ws[i+1] INVALID_ARRAY_INDEX under ANSI).
    Both must now degrade gracefully, matching the DuckDB oracle:
    zero chunks / NULL bigram fraction."""
    from flink_kafka_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "hello"), (4, "!!!"), (5, "a b a")],
        "doc_id long, text string",
    )

    chunks = {r.doc_id: r for r in chunk_documents(docs).collect()}
    # "" / whitespace-only tokenize to zero BPE tokens -> zero chunks
    assert 1 not in chunks and 2 not in chunks
    assert chunks[3].n_chunk_tokens == 1 and chunks[3].chunk_text == "hello"
    assert chunks[4].n_chunk_tokens == 3  # three single-punct tokens

    reps = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert len(reps) == 5
    # single whitespace-token docs: defined unigram frac, NULL bigram
    for did in (1, 3, 4):
        assert reps[did].n_tokens == 1
        assert reps[did].top_unigram_frac == 1.0
        assert reps[did].top_bigram_frac is None
        assert reps[did].dup_token_frac == 0.0
    assert reps[5].n_tokens == 3
    assert reps[5].top_unigram_frac == 0.6667
    assert reps[5].top_bigram_frac == 0.5


def test_unigram_logprob_external_lm_and_oov(spark):
    """The registered doc_logprob query only exercises self-scoring
    (every token in-vocabulary). The external-LM path must charge OOV
    tokens the floor log-prob instead of dropping them, and must
    refuse an external LM without a floor (silent inner-join token
    loss would skew every score)."""
    import math

    import pytest

    from flink_kafka_spark.operators.text import unigram_lm, unigram_logprob

    ref = spark.createDataFrame(
        [(1, "a a a b")], "doc_id long, text string"
    )  # LM: p(a)=3/4, p(b)=1/4
    target = spark.createDataFrame(
        [(10, "a b zzz"), (11, "zzz zzz")], "doc_id long, text string"
    )
    lm = unigram_lm(ref)
    with pytest.raises(ValueError, match="oov_logp"):
        unigram_logprob(target, lm=lm)

    oov = -10.0
    rows = {r.doc_id: r for r in unigram_logprob(target, lm=lm, oov_logp=oov).collect()}
    assert rows[10].n_tokens == 3  # OOV token counted, not dropped
    exp10 = -(math.log(3 / 4) + math.log(1 / 4) + oov) / 3
    assert rows[10].avg_neg_logprob == round(exp10, 4)
    assert rows[11].n_tokens == 2 and rows[11].avg_neg_logprob == 10.0

    # self-scoring on the reference corpus reproduces the hand LM
    self_rows = unigram_logprob(ref).collect()
    exp_self = -(3 * math.log(3 / 4) + math.log(1 / 4)) / 4
    assert self_rows[0].avg_neg_logprob == round(exp_self, 4)


def test_source_overlap_matrix_constructed(spark):
    """Hand-checkable overlap: sources X and Y share exactly one
    3-gram vocabulary entry; Z shares nothing (too short for any
    3-gram) so it produces no pair rows at all."""
    from flink_kafka_spark.operators.dedup import source_overlap_matrix

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "X"),   # shingles {a b c, b c d}
            (2, "a b c", "Y"),     # shingles {a b c}
            (3, "q r", "Z"),       # none (< 3 tokens)
        ],
        "doc_id long, text string, source string",
    )
    rows = source_overlap_matrix(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source_a, r.source_b, r.n_shared_shingles) == ("X", "Y", 1)
    assert r.jaccard == 0.5  # 1 shared / (2 + 1 - 1)


def test_mono_id_rank_contract_canary(spark):
    """CANARY for the bm25_search/multi_query_search rank contract
    (operators/text.py): the rank column reads row indices off
    monotonically_increasing_id after coalesce(1)+sortWithinPartitions,
    relying on two IMPLEMENTATION details Spark does not document —
    (a) ids enumerate partition 0 as 0..n-1 consecutively
    (partitionIndex<<33 + offset), and (b) Catalyst does not reorder
    the nondeterministic project above the sort. If THIS test fails
    after a Spark upgrade, the engine changed one of those behaviors:
    switch bm25_search/multi_query_search to the documented fallback
    (join rank from a driver-side take(k) of the sorted frame) instead
    of debugging an oracle value diff."""
    df = (
        spark.range(30)
        .repartition(3)  # multi-partition input, like the scored frame
        .select((F.col("id") * 37 % 30).alias("v"))
        .orderBy(F.col("v").desc())
        .limit(12)
        .coalesce(1)
        .sortWithinPartitions(F.col("v").desc())
        .select("v", F.monotonically_increasing_id().alias("mid"))
    )
    rows = df.collect()
    mids = [r.mid for r in rows]
    assert mids == list(range(len(rows))), (
        "monotonically_increasing_id no longer enumerates partition 0 "
        f"as 0..n-1 after coalesce(1)+sort (got {mids}); the rank "
        "contract in operators/text.py is broken — switch to the "
        "documented take(k) rank-join fallback"
    )
    vs = [r.v for r in rows]
    assert vs == sorted(vs, reverse=True), (
        "the nondeterministic id project was reordered across "
        "sortWithinPartitions; ranks no longer follow sort order — "
        "switch operators/text.py to the take(k) rank-join fallback"
    )


def test_threshold_sweep_matches_naive(spark, sf_dir):
    """The histogram+suffix-sum plan must equal the naive per-threshold
    scan, including the bucket-boundary equivalence the docstring
    argues (q >= t at 1-dp thresholds == integer-bucket >= t*steps)."""
    import math
    import re

    from flink_kafka_spark.operators.text import quality_threshold_sweep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        round(r.threshold, 1): (r.n_docs_pass, r.frac_docs, r.n_tokens_pass, r.frac_tokens)
        for r in quality_threshold_sweep(docs, steps=10).collect()
    }
    rows = [(r.text or "") for r in docs.select("text").collect()]
    scored = []
    for text in rows:
        ws = re.split(r"\s+", text.lower())
        q = round(0.5 * min(len(ws) / 200.0, 1.0) + 0.5 * (len(set(ws)) / len(ws)), 4)
        scored.append((q, len(ws)))
    td, tt = len(scored), sum(n for _, n in scored)
    assert set(got) == {round(i / 10, 1) for i in range(11)}
    for i in range(11):
        t = i / 10.0
        nd = sum(1 for q, _ in scored if q >= t)
        nt = sum(n for q, n in scored if q >= t)
        fd = math.floor(nd / td * 1e6 + 0.5) / 1e6
        ft = math.floor(nt / tt * 1e6 + 0.5) / 1e6
        assert got[round(t, 1)] == (nd, fd, nt, ft), f"threshold {t}"


# --- Misra-Gries heavy-hitter sketch (operators/sketches.py) ---

def test_misra_gries_bounds_on_planted_zipf(spark):
    """Planted skew the corpus tables can't provide (their token
    distribution is near-uniform): a few mega-keys over a long tail.
    The mergeable-summaries guarantees must hold on ANY partitioning:
    estimates never overcount, undercount <= n/(k+1), and every item
    with true count > n/(k+1) survives — checked on three different
    partitionings of the same data."""
    import pandas as pd

    from flink_kafka_spark.operators.sketches import misra_gries

    rows = (
        [("mega_a",)] * 4000
        + [("mega_b",)] * 2500
        + [("mid",)] * 700
        + [(f"tail_{i % 397}",) for i in range(2800)]
    )
    n, k = len(rows), 8
    true = pd.Series([r[0] for r in rows]).value_counts()
    for parts in (1, 7, 32):
        df = spark.createDataFrame(rows, "item string").repartition(parts)
        est = {r["item"]: r["est"] for r in misra_gries(df, "item", k).collect()}
        assert len(est) <= k
        for item, e in est.items():
            t = int(true[item])
            assert e <= t, (parts, item)
            assert (t - e) * (k + 1) <= n, (parts, item)
        for item, t in true.items():
            if int(t) * (k + 1) > n:
                assert item in est, (parts, item)
    # capacity >= distinct count -> the sketch degrades to exact counts
    small = spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, "item string")
    exact = {r["item"]: r["est"] for r in misra_gries(small, "item", 16).collect()}
    assert exact == {"a": 5, "b": 2}


def test_snapshot_diff_null_semantics(spark):
    """NULL, '', and the literal string 'null' must be three distinct
    contents (the JSON-struct digest guarantees it; a sentinel concat
    would collide NULL with 'null'), and NULL compares as a value —
    IS DISTINCT FROM semantics on both the operator and its oracle."""
    from flink_kafka_spark.operators.versioning import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, ""), (3, "null"), (4, "same"), (5, "gone")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "null"), (2, None), (3, "null"), (4, "same"), (6, "fresh")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {
        1: "changed",    # NULL -> 'null' literal: distinct digests
        2: "changed",    # '' -> NULL
        3: "unchanged",
        4: "unchanged",
        5: "removed",
        6: "added",
    }


def test_mmr_prefers_diverse_over_redundant(spark):
    """Hand-built geometry where plain cosine top-2 is {a, b} but MMR
    at lambda=0.5 must pick a then c: b's redundancy penalty dwarfs
    c's relevance gap."""
    from flink_kafka_spark.operators.similarity import mmr_rerank

    # q != a so penalty and relevance decouple: cos(q,a)=.78 (top),
    # cos(q,b)=.76 with cos(a,b)=.9995 (redundant), cos(q,c)=.60 with
    # cos(a,c)=.094 (diverse). Step 2 scores: b = .5(.76-.9995) < 0,
    # c = .5(.60-.094) = +.25.
    rows = [
        (100, [1.0, 0.0, 0.0]),                 # query
        (1, [1.0, 0.8, 0.0]),                   # a: most relevant
        (2, [1.0, 0.85, 0.0]),                  # b: near-copy of a
        (3, [0.6, -0.6, 0.53]),                 # c: diverse
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(
        df.filter("vec_id = 100"), df.filter("vec_id < 100"),
        k=2, lam=0.5, n_candidates=3,
    ).orderBy("mmr_rank").collect()
    assert [r["neighbor_id"] for r in out] == [1, 3]


def test_weighted_sample_partitioning_invariant(spark):
    """The A-Res draw is a pure function of (seed, id): identical rows
    out on 1, 5, and 32 input partitions, and every stratum returns
    exactly min(m, stratum size) rows."""
    from flink_kafka_spark.operators.sampling import weighted_sample
    from flink_kafka_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "n_chars"
    )
    ref = None
    for parts in (1, 5, 32):
        got = sorted(
            tuple(r)
            for r in weighted_sample(
                docs.repartition(parts), "doc_id", "n_chars", "lang", 7, seed=3
            ).collect()
        )
        if ref is None:
            ref = got
            sizes = {r["lang"]: r["c"] for r in docs.groupBy("lang").agg(
                __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("c")
            ).collect()}
            per = {}
            for t in got:
                per[t[1]] = per.get(t[1], 0) + 1
            for lang, c in sizes.items():
                assert per.get(lang, 0) == min(7, c), (lang, c, per)
        else:
            assert got == ref, parts


def test_bigram_lm_detects_scrambled_word_order(spark):
    """The signal that justifies the bigram LM over the unigram: a
    token-scrambled doc has the SAME unigram score as its fluent twin
    but a strictly worse (higher avg-neg-logprob) bigram score, while
    a doc made of corpus-frequent transitions scores better than one
    of corpus-rare transitions. Plus the probability axioms: the MLE
    transition rows out of every context sum to exactly their context
    total, and self-scoring assigns every doc a finite score."""
    from flink_kafka_spark.operators.text import (
        bigram_lm,
        bigram_logprob,
        unigram_logprob,
    )

    fluent = "the cat sat on the mat and the dog sat on the rug"
    toks = fluent.split()
    scrambled = " ".join(toks[::2] + toks[1::2])  # same bag, broken order
    rows = [(i, fluent) for i in range(8)] + [(100, fluent), (101, scrambled)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uni = {r.doc_id: r.avg_neg_logprob for r in unigram_logprob(df).collect()}
    assert uni[100] == uni[101]  # unigram is order-blind by construction

    bi = {r.doc_id: r.avg_neg_logprob for r in bigram_logprob(df).collect()}
    assert bi[101] > bi[100]  # bigram sees the broken order

    model = bigram_lm(df).collect()
    by_ctx = {}
    for r in model:
        by_ctx.setdefault(r.w1, []).append(r)
    for w1, rs in by_ctx.items():
        assert sum(r.n_b for r in rs) == rs[0].n_c  # P(·|w1) sums to 1
        assert all(r.n_c == rs[0].n_c for r in rs)

    short = spark.createDataFrame([(1, "one"), (2, "")], "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_logprob(short).collect()}
    assert out[1].n_bigrams == 0 and out[1].avg_neg_logprob == 0.0


def test_classifier_score_matches_naive_python(spark):
    """The hashed linear classifier against a from-scratch Python
    reimplementation (hashlib md5 + integer arithmetic) — pins the
    full contract: bucket hash, weight mix, exact integer sum, logit
    and sigmoid transforms."""
    import hashlib
    import math

    from flink_kafka_spark.operators.text import (
        CLF_BUCKETS,
        _CLF_MIX,
        _CLF_PRIME,
        classifier_score,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "aaa aaa aaa aaa",
        3: "Mixed CASE Words 123 !!",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.doc_id: r for r in classifier_score(df).collect()}
    for doc_id, text in texts.items():
        toks = [t for t in text.lower().split()]
        ws = []
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % CLF_BUCKETS
            ws.append((b * _CLF_MIX) % _CLF_PRIME)
        logit = (sum(ws) * 2.0 / len(ws)) / _CLF_PRIME - 1.0
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert r.clf_logit == round(logit, 6)
        assert r.clf_score == round(1.0 / (1.0 + math.exp(-4.0 * logit)), 4)


def test_vocab_coverage_exact_on_constructed_vocab(spark):
    """vocab_size=2 over a corpus where the top-2 tokens (and the
    frequency tie-break) are known: per-doc OOV counts must be exact,
    and the tie at rank 2 must resolve token-ascending."""
    from flink_kafka_spark.operators.text import vocab_coverage

    # counts: 'x'=4, 'b'=3, 'z'=3 (tie: 'b' < 'z' wins rank 2), 'q'=1
    rows = [
        (1, "x x b z"),
        (2, "x b z q"),
        (3, "x b z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in vocab_coverage(df, vocab_size=2).collect()}
    # vocab = {x, b}; OOV per doc = occurrences of z/q
    assert (out[1].n_tokens, out[1].n_oov) == (4, 1)
    assert (out[2].n_tokens, out[2].n_oov) == (4, 2)
    assert (out[3].n_tokens, out[3].n_oov) == (3, 1)
    assert out[2].oov_rate == 0.5


def test_hashed_embedding_geometry(spark):
    """The JL/Achlioptas property the embedder exists for: exact
    duplicate docs embed identically (cosine exactly 1 — the sums are
    integer-exact), high-overlap docs score above disjoint-vocabulary
    docs, and the vec form is dense (every dim present, length = dim)
    and consistent with the long form."""
    import math

    from flink_kafka_spark.operators.text import (
        hashed_doc_embedding,
        hashed_doc_embedding_vec,
    )

    docs = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta theta",
        3: "alpha beta gamma delta epsilon zeta eta OTHER",
        4: "one two three four five six seven eight",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    vecs = {
        r.doc_id: [float(x) for x in r.embedding]
        for r in hashed_doc_embedding_vec(df, dim=32).collect()
    }
    assert all(len(v) == 32 for v in vecs.values())

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    assert vecs[1] == vecs[2]
    assert cos(vecs[1], vecs[3]) > cos(vecs[1], vecs[4])
    # absolute decorrelation bound, not just ordering: the round-7
    # linear-parity sign bug produced ~0.9 cosines between DISJOINT
    # vocabularies (all sign vectors near-parallel) while still
    # passing the relative assertion above — guard the JL noise floor
    assert abs(cos(vecs[1], vecs[4])) < 0.6

    long = hashed_doc_embedding(df, dim=32).collect()
    by_doc: dict = {}
    for r in long:
        by_doc.setdefault(r.doc_id, {})[r.dim_idx] = r.val
    assert all(len(d) == 32 for d in by_doc.values())
    for doc_id, v in vecs.items():
        assert v == [float(by_doc[doc_id][j]) for j in range(32)]


def test_filter_audit_consistent_with_corpus_prep(spark, sf_dir):
    """The audit twin's contract: keep=1 is EXACTLY the corpus_prep
    survivor set, and every keep=0 row carries at least one reason
    code from the fixed vocabulary in the fixed order."""
    from flink_kafka_spark.queries.textops import corpus_prep, filter_audit

    audit_rows = filter_audit(spark, sf_dir).collect()
    kept = {r.doc_id for r in audit_rows if r.keep == 1}
    prep = {r.doc_id for r in corpus_prep(spark, sf_dir).collect()}
    assert kept == prep and len(kept) > 0

    order = ["dup", "lang", "quality"]
    for r in audit_rows:
        if r.keep == 1:
            assert r.reasons == ""
        else:
            parts = r.reasons.split(",")
            assert parts and all(p in order for p in parts)
            assert parts == [o for o in order if o in parts]  # fixed order


def test_encoding_flags_planted_damage(spark):
    """Planted encoding damage: mojibake digraphs, replacement chars
    and control bytes are counted exactly and independently; clean
    ASCII text flags clean."""
    from flink_kafka_spark.operators.text import encoding_flags

    rows = [
        (1, "clean ascii text"),
        (2, "cafÃ© moji Ã© and â€™ twice â€œ"),
        (3, "bad � char ��"),
        (4, "ctrl\x01here\x1f"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in encoding_flags(df).collect()}
    assert (got[1].n_mojibake, got[1].n_replacement, got[1].n_control, got[1].clean) == (0, 0, 0, 1)
    assert got[2].n_mojibake == 4 and got[2].clean == 0
    assert got[3].n_replacement == 3 and got[3].clean == 0
    assert got[4].n_control == 2 and got[4].clean == 0


def test_training_mix_snapshot_composes_its_stages(spark, sf_dir):
    """Compositional consistency with the constituent registered
    queries: every manifest doc survives corpus_prep, is not the
    benchmark subset, is not flagged by decontaminate, carries keep=1
    in mixture_resample (computed over the clean corpus), and wears
    dataset_split's assignment."""
    from flink_kafka_spark.queries.textops import (
        DECON_MOD,
        corpus_prep,
        dataset_split,
        decontaminate,
        training_mix_snapshot,
    )

    snap = {r.doc_id: r for r in training_mix_snapshot(spark, sf_dir).collect()}
    assert snap
    prep = {r.doc_id for r in corpus_prep(spark, sf_dir).collect()}
    contaminated = {r.doc_id for r in decontaminate(spark, sf_dir).collect()}
    splits = {r.doc_id: r.split for r in dataset_split(spark, sf_dir).collect()}
    for doc_id, r in snap.items():
        assert doc_id in prep
        assert doc_id % DECON_MOD != 0
        assert doc_id not in contaminated
        assert r.split == splits[doc_id]


def test_strip_markup_planted_html(spark):
    """Planted markup: script/style/comment content vanishes wholesale,
    tags strip, the six entities unescape exactly one level (&amp;
    last — double-escaped text stays single-escaped), whitespace
    collapses, and plain text passes through byte-identical."""
    from flink_kafka_spark.operators.text import strip_markup

    rows = [
        (1, "plain text stays"),
        (2, "<html><head><script>var x = '<p>';</script>"
            "<style>.c{color:red}</style></head>"
            "<body><p>Hello &amp; welcome</p><!-- note -->"
            "<div>bye&nbsp;now</div></body></html>"),
        (3, "a &amp;amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in strip_markup(df).collect()}
    assert got[1].clean_text == "plain text stays" and got[1].removed_chars == 0
    assert got[2].clean_text == "Hello & welcome bye now"
    assert got[3].clean_text == "a &amp; b <tag> \"q\" 's'"


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_token_st = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789!?.", min_size=1, max_size=8
)


@given(docs=st.lists(st.lists(_token_st, min_size=1, max_size=12), min_size=1, max_size=5))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_classifier_score_hypothesis_vs_naive(spark, docs):
    """Random token bags vs the hashlib reimplementation — sweeps the
    md5-bucket/weight/logit contract over arbitrary token shapes, not
    just the fixed example."""
    import hashlib
    import math

    from flink_kafka_spark.operators.text import (
        CLF_BUCKETS,
        _CLF_MIX,
        _CLF_PRIME,
        classifier_score,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in classifier_score(df).collect()}
    for i, _ in enumerate(docs):
        toks = rows[i][1].lower().split()
        ws = [
            (int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % CLF_BUCKETS)
            * _CLF_MIX
            % _CLF_PRIME
            for t in toks
        ]
        logit = (sum(ws) * 2.0 / len(ws)) / _CLF_PRIME - 1.0
        assert got[i].n_tokens == len(toks)
        assert got[i].clf_logit == round(logit, 6)
        assert got[i].clf_score == round(1.0 / (1.0 + math.exp(-4.0 * logit)), 4)


def _ref_bpe(word_freqs, n_merges):
    """Pure-Python BPE trainer: the spec bpe_learn_merges must match —
    greedy left-to-right merges, argmax by (freq desc, (left, right)
    tuple asc — the struct-pair tie-break the operator uses)."""
    from collections import Counter

    seqs = [(list(w), f) for w, f in word_freqs]
    merges = []
    for rnd in range(1, n_merges + 1):
        counts = Counter()
        for syms, f in seqs:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        (a, b), freq = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, a, b, freq))
        nxt = []
        for syms, f in seqs:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, f))
        seqs = nxt
    return merges


def test_bpe_learn_merges_matches_reference_crafted(spark):
    """Crafted corpus exercising the tricky cases: overlapping pairs
    ('aaaa' merges greedily left-to-right), merges that create the
    NEXT round's winning pair (ab+c), and frequency ties broken by
    pair string."""
    from flink_kafka_spark.operators.text import bpe_learn_merges

    words = ["abcabc"] * 5 + ["aaaa"] * 3 + ["xy"] * 4 + ["xz"] * 4 + ["abq"] * 2
    docs = spark.createDataFrame([(i, w) for i, w in enumerate(words)], "id long, text string")
    got = [tuple(r) for r in bpe_learn_merges(docs, n_merges=6).collect()]
    from collections import Counter

    want = _ref_bpe(sorted(Counter(words).items()), 6)
    assert got == want
    # round 1 must be the ab merge (freq 12 = 5*2 + 2), and some later
    # round must consume a MERGED symbol — proof the loop re-counts
    # pairs over rewritten sequences rather than the original chars
    assert got[0][1:] == ("a", "b", 12)
    assert any(len(left) > 1 or len(right) > 1 for _, left, right, _ in got)


def test_bpe_learn_merges_matches_reference_fixture(spark, sf_dir):
    """Same equivalence over the real sf fixture's vocabulary (lower +
    whitespace split, mirroring the operator's corpus collapse)."""
    from collections import Counter

    from flink_kafka_spark.operators.text import bpe_learn_merges
    from flink_kafka_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    got = [tuple(r) for r in bpe_learn_merges(docs, n_merges=5).collect()]
    freqs = Counter()
    for r in docs.select("text").collect():
        for w in r["text"].lower().split():
            if w:
                freqs[w] += 1
    want = _ref_bpe(sorted(freqs.items()), 5)
    assert got == want


# --- Count-Min sketch properties ---


def _py_cms(tokens, width, depth):
    """Pure-Python CM sketch with the repo's md5-prefix hash — the
    spec count_min_sketch must match counter-for-counter."""
    import hashlib
    from collections import Counter

    sk = Counter()
    for tok in tokens:
        for i in range(depth):
            h = int(hashlib.md5(f"{tok}:{i}".encode()).hexdigest()[:8], 16)
            sk[(i, h % width)] += 1
    return sk


def test_count_min_sketch_matches_reference_and_estimates(spark):
    from flink_kafka_spark.operators.sketches import cms_estimate, count_min_sketch

    words = (["apple"] * 40 + ["banana"] * 25 + ["cherry"] * 9
             + [f"rare{i}" for i in range(60)])
    df = spark.createDataFrame([(w,) for w in words], "tok string")
    w, d = 32, 3  # tiny width -> real collisions exercised
    got = {(r["r"], r["b"]): r["c"] for r in count_min_sketch(df, "tok", w, d).collect()}
    assert got == dict(_py_cms(words, w, d))

    # estimates: min over rows, >= true always, == python reference
    from collections import Counter
    true = Counter(words)
    items = spark.createDataFrame([(t,) for t in true], "tok string")
    est = {r["tok"]: r["est_c"] for r in cms_estimate(
        count_min_sketch(df, "tok", w, d), items, "tok", w, d).collect()}
    ref = _py_cms(words, w, d)
    import hashlib
    for tok, tc in true.items():
        py_est = min(
            ref[(i, int(hashlib.md5(f"{tok}:{i}".encode()).hexdigest()[:8], 16) % w)]
            for i in range(d)
        )
        assert est[tok] == py_est
        assert est[tok] >= tc  # CM one-sided error: never undercounts

    # absent item: every counter it probes may still collide, but the
    # estimate is the python reference's (possibly 0)
    ghost = spark.createDataFrame([("zz-absent",)], "tok string")
    g = cms_estimate(count_min_sketch(df, "tok", w, d), ghost, "tok", w, d).collect()
    py_g = min(
        ref.get((i, int(hashlib.md5(f"zz-absent:{i}".encode()).hexdigest()[:8], 16) % w), 0)
        for i in range(d)
    )
    assert g[0]["est_c"] == py_g


def test_count_min_sketch_is_mergeable(spark):
    """CM merge is counter addition — EXACT, independent of the split:
    sketch(A ++ B) == sketch(A) + sketch(B), key by key. This is what
    makes per-partition partials safe at any merge tree."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.sketches import count_min_sketch

    words_a = ["x"] * 7 + ["y"] * 3 + ["z"]
    words_b = ["y"] * 5 + ["w"] * 2
    w, d = 16, 2
    dfa = spark.createDataFrame([(t,) for t in words_a], "tok string")
    dfb = spark.createDataFrame([(t,) for t in words_b], "tok string")
    whole = count_min_sketch(dfa.unionAll(dfb), "tok", w, d)
    merged = (
        count_min_sketch(dfa, "tok", w, d)
        .unionByName(count_min_sketch(dfb, "tok", w, d))
        .groupBy("r", "b")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    as_map = lambda df: {(r["r"], r["b"]): r["c"] for r in df.collect()}
    assert as_map(whole) == as_map(merged)


# --- KMV sketch properties ---


def _py_kmv_hash(v):
    import hashlib

    return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)


def test_kmv_minima_matches_brute_force_and_is_partition_independent(spark):
    """The one-pass partial-top-k reducer must be invisible:
    kmv_minima == the k smallest distinct hashes per set computed
    brute-force, and the result must not depend on how the input was
    partitioned (each partition's partial keeps a superset of its
    share of the global minima, so the final top-k is exact)."""
    from flink_kafka_spark.operators.sketches import kmv_minima

    rows = [("a", f"v{i}") for i in range(500)] + [("b", f"v{i}") for i in range(40)]
    rows += rows[:100]  # duplicates must not matter (DISTINCT hash set)
    df = spark.createDataFrame(rows, "s string, v string")
    k = 32
    for parts in (1, 7):
        got = {
            (r["s"], r["rn"]): r["h"]
            for r in kmv_minima(df.repartition(parts), "s", "v", k).collect()
        }
        want = {}
        for s, n in (("a", 500), ("b", 40)):
            hs = sorted({_py_kmv_hash(f"v{i}") for i in range(n)})[:k]
            for rn, h in enumerate(hs, 1):
                want[(s, rn)] = h
        assert got == want


def test_kmv_estimate_exact_below_k_and_bounded_error_above(spark):
    from flink_kafka_spark.operators.sketches import kmv_estimate, kmv_minima

    k = 64
    rows = [("small", f"s{i}") for i in range(k - 10)]
    rows += [("big", f"b{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "s string, v string")
    est = {r["s"]: r["est"] for r in kmv_estimate(kmv_minima(df, "s", "v", k), k).collect()}
    assert est["small"] == k - 10  # < k distinct -> the sketch IS the set
    # standard error is ~1/sqrt(k-2) ~ 13%; assert a generous 4-sigma band
    assert abs(est["big"] - 5000) / 5000 < 0.5


def test_kmv_minima_cross_batch_merge_and_null_semantics(spark):
    """r19 one-pass internals (replaces the retired prefilter-miss
    test: the exact partial-top-k reducer has no threshold to miss, so
    the old loud-failure invariant is vacuous — exactness is now
    structural and pinned by the brute-force test above). Two
    internals need their own pin:

    1. CROSS-BATCH state merge — with Arrow batches far smaller than a
       partition, a task's reducer sees each set across MANY batches
       and must merge partial top-ks, not emit per batch; a bug there
       would surface extra rows or lose minima.
    2. NULL semantics — null set values and null hashed values are
       dropped, exactly as the old join-on-s + h<thr shape dropped
       them."""
    from flink_kafka_spark.operators.sketches import kmv_minima

    k = 16
    rows = [("a", f"v{i}") for i in range(300)] + [("b", f"v{i}") for i in range(9)]
    rows += [(None, "v1"), ("a", None), (None, None)]
    df = spark.createDataFrame(rows, "s string, v string").coalesce(1)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            (r["s"], r["rn"]): r["h"]
            for r in kmv_minima(df, "s", "v", k).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    want = {}
    for s, n in (("a", 300), ("b", 9)):
        for rn, h in enumerate(sorted({_py_kmv_hash(f"v{i}") for i in range(n)})[:k], 1):
            want[(s, rn)] = h
    assert got == want  # null-keyed rows gone, minima exact, merge clean


def test_kmv_minima_state_guard_fails_loudly(spark, monkeypatch):
    """A task whose partial state (|sets| x k values) passes
    KMV_TASK_STATE_MAX raises, naming the set count, k and the ceiling;
    one under it runs. The ceiling is read when kmv_minima is called."""
    from flink_kafka_spark.operators import sketches

    monkeypatch.setattr(sketches, "KMV_TASK_STATE_MAX", 40)
    k = 16
    rows = [(s, f"v{i}") for s in "abc" for i in range(20)]
    df = spark.createDataFrame(rows, "s string, v string").coalesce(1)
    under = sketches.kmv_minima(df.filter("s != 'c'"), "s", "v", k)
    assert under.count() == 2 * k
    over = sketches.kmv_minima(df, "s", "v", k)
    with pytest.raises(Exception, match="3 sets x k=16 exceed the per-task state ceiling of 40"):
        over.collect()


def test_kmv_pair_intersections_exact_and_estimated_match_python_replay(spark):
    """KMV set algebra: est_a/est_b/est_union/est_intersection and the
    r13 difference columns est_a_minus_b/est_b_minus_a must bit-match
    a pure-Python replay of the same integer estimator over the same
    md5-prefix hashes (the determinism contract), the both-exact pair
    must come out EXACT, and the sketch-path estimates must land
    within the KMV error band of the true values."""
    from flink_kafka_spark.operators.sketches import (
        CMS_SPACE,
        kmv_minima,
        kmv_pair_intersections,
    )

    k = 64
    # big/big2 overlap on 2000 of 5000 values; tiny/tiny2 are exact
    # (< k distinct) and overlap on 10 of ~40; big/tiny mixed case
    sets = {
        "big": [f"v{i}" for i in range(5000)],
        "big2": [f"v{i}" for i in range(3000, 8000)],
        "tiny": [f"v{i}" for i in range(40)],
        "tiny2": [f"v{i}" for i in range(30, 70)],
    }
    rows = [(s, v) for s, vs in sets.items() for v in vs]
    df = spark.createDataFrame(rows, "s string, v string")
    got = {
        (r["set_a"], r["set_b"]): (
            r["est_a"], r["est_b"], r["est_union"], r["est_intersection"],
            r["est_a_minus_b"], r["est_b_minus_a"],
        )
        for r in kmv_pair_intersections(kmv_minima(df, "s", "v", k), k).collect()
    }

    def replay(va, vb):
        ha = sorted({_py_kmv_hash(v) for v in va})[:k]
        hb = sorted({_py_kmv_hash(v) for v in vb})[:k]

        def est(hs, n_distinct):
            return n_distinct if len(hs) < k else (k - 1) * CMS_SPACE // hs[-1]

        ea, eb = est(ha, len(set(va))), est(hb, len(set(vb)))
        if len(ha) < k and len(hb) < k:
            inter = len(set(ha) & set(hb))
            only_a, only_b = len(set(ha) - set(hb)), len(set(hb) - set(ha))
            return ea, eb, len(set(ha) | set(hb)), inter, only_a, only_b
        theta = min(m[-1] for m in (ha, hb) if len(m) == k)
        s_ = {h for h in set(ha) | set(hb) if h <= theta}
        n_both = len({h for h in set(ha) & set(hb) if h <= theta})
        n_oa = len({h for h in set(ha) - set(hb) if h <= theta})
        n_ob = len({h for h in set(hb) - set(ha) if h <= theta})
        e_union = (len(s_) - 1) * CMS_SPACE // theta
        return (ea, eb, e_union, n_both * e_union // len(s_),
                n_oa * e_union // len(s_), n_ob * e_union // len(s_))

    names = sorted(sets)
    want = {
        (a, b): replay(sets[a], sets[b])
        for i, a in enumerate(names)
        for b in names[i + 1:]
    }
    assert got == want  # bit-identical to the integer replay
    # exact pair is exact: union 70, both 10, only-tiny 30, only-tiny2 30
    assert got[("tiny", "tiny2")] == (40, 40, 70, 10, 30, 30)
    # sketch-path accuracy: generous 4-sigma (~1/sqrt(k-2)) bands; the
    # true differences are 3000 each (5000\3000-8000 on either side)
    ea, eb, eu, ei, eoa, eob = got[("big", "big2")]
    assert abs(eu - 8000) / 8000 < 0.5 and abs(ei - 2000) / 2000 < 0.75
    assert abs(eoa - 3000) / 3000 < 0.75 and abs(eob - 3000) / 3000 < 0.75


def test_kll_quantile_rollup_exact_below_k_and_rank_bounded_above(spark):
    """KLL quantile rollup: (a) a set whose total count stays below
    the sketch's k keeps every value through both levels — quantiles
    are EXACT order statistics (rank = ceil(q·n)) no matter how the
    rows were split into subs; (b) a large set's quantiles respect the
    sketch's normalized-rank error (±3% band vs ε≈1.65% at k=200);
    (c) n_vals and n_subs are exact counts."""
    from flink_kafka_spark.operators.sketches import kll_quantile_rollup

    qs = (0.5, 0.95, 0.99)
    small_vals = [float(v) for v in range(1, 41)]
    n_big = 60_000
    rows = [("small", i % 3, v) for i, v in enumerate(small_vals)]
    rows += [("small2", i % 5, v) for i, v in enumerate(small_vals)]  # same data, other split
    rows += [("big", i % 7, float(i % 10007)) for i in range(n_big)]
    df = spark.createDataFrame(rows, "s string, sub int, v double")
    got = {
        r["s"]: r for r in kll_quantile_rollup(df, "s", "sub", "v", qs).collect()
    }

    def exact_q(vals, q):
        import math

        return sorted(vals)[math.ceil(q * len(vals)) - 1]

    for s, n_subs in (("small", 3), ("small2", 5)):
        r = got[s]
        assert (r["n_subs"], r["n_vals"]) == (n_subs, 40)
        for q in qs:
            key = f"q_{str(q).replace('0.', '').ljust(2, '0')}"
            assert r[key] == exact_q(small_vals, q), (s, q, r[key])
    # split-independence on the exact path: identical quantiles
    assert all(
        got["small"][f"q_{c}"] == got["small2"][f"q_{c}"] for c in ("50", "95", "99")
    )

    big_vals = sorted(float(i % 10007) for i in range(n_big))
    r = got["big"]
    assert r["n_vals"] == n_big
    import bisect

    for q in qs:
        key = f"q_{str(q).replace('0.', '').ljust(2, '0')}"
        rank = bisect.bisect_right(big_vals, r[key]) / n_big
        assert abs(rank - q) < 0.03, (q, r[key], rank)


def test_kll_quantile_rollup_edge_cases(spark):
    """Review pins: an all-NULL set yields no row (never an empty-
    sketch crash), column names survive spaces and sub-percent
    quantiles (0.999 -> q_99_9), and out-of-range quantiles raise."""
    import pytest

    from flink_kafka_spark.operators.sketches import kll_quantile_rollup

    rows = [("a", 0, 1.0), ("a", 0, 2.0), ("nullset", 0, None), ("nullset", 1, None)]
    df = spark.createDataFrame(rows, "s string, sub int, `my val` double")
    out = kll_quantile_rollup(df, "s", "sub", "my val", (0.5, 0.999, 1.0))
    assert [f.name for f in out.schema.fields] == [
        "s", "n_subs", "n_vals", "q_50", "q_99_9", "q_100",
    ]
    got = out.collect()
    assert [tuple(r) for r in got] == [("a", 1, 2, 1.0, 2.0, 2.0)]
    with pytest.raises(ValueError, match="quantiles"):
        kll_quantile_rollup(df, "s", "sub", "my val", (0.0,))
    with pytest.raises(ValueError, match="duplicate"):
        kll_quantile_rollup(df, "s", "sub", "my val", (0.5, 0.50))


def test_bpe_apply_round_trips_the_learned_merges(spark):
    """apply(learn(corpus)) must tokenize every word exactly like the
    pure-Python trainer's final state: total BPE tokens per doc equal
    the python segmentation lengths, chars are conserved, and merges
    strictly compress (n_bpe_tokens <= n_chars, >= n_words)."""
    from collections import Counter

    from flink_kafka_spark.operators.text import bpe_apply_merges, bpe_learn_merges

    words = ["abcabc"] * 5 + ["aaaa"] * 3 + ["xy xz abq"] * 2 + ["abc aaaa xy"]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    merges = [
        (r["left"], r["right"]) for r in bpe_learn_merges(docs, n_merges=6).collect()
    ]

    def py_apply(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return syms

    got = {r["doc_id"]: r for r in bpe_apply_merges(docs, merges).collect()}
    for i, text in enumerate(words):
        ws = [w for w in text.lower().split() if w]
        want_toks = sum(len(py_apply(w)) for w in ws)
        assert got[i]["n_words"] == len(ws)
        assert got[i]["n_chars"] == sum(len(w) for w in ws)
        assert got[i]["n_bpe_tokens"] == want_toks
        assert got[i]["n_words"] <= got[i]["n_bpe_tokens"] <= got[i]["n_chars"]
    # the merges actually compress this corpus (not a no-op table)
    assert any(got[i]["n_bpe_tokens"] < got[i]["n_chars"] for i in range(len(words)))


def test_kmv_pair_intersections_query_registered_surface(spark, sf_dir):
    """Registered-query invariants for the r13 full-oracle row (the
    bit-exact value contract is the DuckDB oracle + the operator's
    Python-replay test): one row per unordered source pair, estimates
    positive, union >= each side's estimate would NOT hold for a
    sketch (union is re-estimated from theta), but intersection <=
    union always holds, and the pair frame is keyed set_a < set_b."""
    from flink_kafka_spark.queries import all_queries

    rows = all_queries()["kmv_pair_intersections"].fn(spark, sf_dir).collect()
    # expected source set from the TABLE, not from the output (a bug
    # dropping every pair of one source must not self-consistently
    # pass): every source has >= 1 doc with >= 3 tokens at every SF
    expected = {
        r["source"] for r in load(spark, sf_dir, "documents").select("source").distinct().collect()
    }
    n = len(expected)
    assert {r["set_a"] for r in rows} | {r["set_b"] for r in rows} == expected
    assert len(rows) == n * (n - 1) // 2
    for r in rows:
        assert r["set_a"] < r["set_b"]
        assert r["est_a"] > 0 and r["est_b"] > 0
        assert 0 <= r["est_intersection"] <= r["est_union"]


def test_kll_quantile_rollup_query_registered_surface(spark, sf_dir):
    """Registered-query invariants for the r13 rows-only row (value
    bounds live in the operator pytests above): one row per event_type
    with non-NULL values, exact n_vals accounting, and monotone
    quantile columns."""
    from flink_kafka_spark.queries import all_queries
    from flink_kafka_spark.tables import load as load_t

    rows = {
        r["event_type"]: r
        for r in all_queries()["kll_quantile_rollup"].fn(spark, sf_dir).collect()
    }
    ev = (
        load_t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert {r["event_type"]: r["n"] for r in ev} == {
        t: r["n_vals"] for t, r in rows.items()
    }
    for r in rows.values():
        assert r["n_subs"] >= 1
        assert r["q_50"] <= r["q_95"] <= r["q_99"]


# --- winnowing fingerprints (r16) -----------------------------------

def _py_winnow(text: str, k: int = 4, w: int = 8) -> set:
    """Pure-Python reference of the MOSS selection rule, mirroring
    winnow_fingerprints' packing exactly (40-bit md5-prefix hash,
    rightmost-min tie-break via the position complement)."""
    import hashlib
    import re

    P = 1 << 20
    # re.split(r"\\s+") mirrors Spark's split(lower(text), '\\s+')
    # EXACTLY, including the phantom empty token a leading/trailing
    # whitespace produces - str.split() would drop those and shift
    # every downstream shingle position
    toks = re.split(r"\s+", text.lower())
    sh = (
        [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        if len(toks) >= k
        else []
    )
    hs = [
        int(hashlib.md5(s.encode()).hexdigest()[:10], 16) * P + (P - 1 - i)
        for i, s in enumerate(sh)
    ]
    if not hs:
        return set()
    fps = {min(hs[s : s + w]) for s in range(max(len(hs) - w + 1, 1))}
    return {(P - 1 - (fp % P), fp // P) for fp in fps}


def test_winnow_matches_python_reference(spark):
    """Spark output == the reference on crafted docs covering the
    degenerate sizes: < k tokens (no shingles -> no rows), exactly k
    (one shingle -> one fingerprint), k..w+k-1 (one all-covering
    window), and a long doc with repeated runs (distinct-fp dedup)."""
    from flink_kafka_spark.operators.text import winnow_fingerprints

    docs = [
        (1, "too few"),
        (2, "exactly four tokens here"),
        (3, "one two three four five six seven eight nine ten eleven"),
        (4, " ".join(f"tok{i % 13}" for i in range(60))),
        (5, " ".join(["loop"] * 30)),  # all-identical shingles
        (6, "  leading and trailing whitespace make phantom tokens  "),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r.doc_id, set()).add((r.fp_pos, r.fp_hash))
    for doc_id, text in docs:
        assert got.get(doc_id, set()) == _py_winnow(text), f"doc {doc_id}"


def test_winnow_guarantee_and_coverage():
    """The paper's two invariants, fuzzed on the pure-Python reference
    (which test_winnow_matches_python_reference pins to the Spark
    implementation): (1) GUARANTEE — two documents sharing a verbatim
    run of >= w + k - 1 tokens share at least one selected fp_hash;
    (2) COVERAGE — every w-window of shingle positions contains at
    least one selected fingerprint position (the selection never goes
    w positions without a sample)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    k, w = 4, 8
    token = st.integers(0, 30).map(lambda i: f"t{i}")
    run = st.lists(token, min_size=k + w - 1, max_size=k + w + 4)
    ctx = st.lists(token, min_size=0, max_size=20)

    @settings(max_examples=120, deadline=None)
    @given(run=run, a_pre=ctx, a_post=ctx, b_pre=ctx, b_post=ctx)
    def check(run, a_pre, a_post, b_pre, b_post):
        doc_a = " ".join(a_pre + run + a_post)
        doc_b = " ".join(b_pre + run + b_post)
        fa, fb = _py_winnow(doc_a, k, w), _py_winnow(doc_b, k, w)
        assert {h for _, h in fa} & {h for _, h in fb}, "guarantee violated"
        # coverage on doc_a
        n_sh = len(doc_a.split()) - k + 1
        pos = sorted(p for p, _ in fa)
        for s in range(max(n_sh - w + 1, 1)):
            assert any(s <= p < s + w for p in pos), f"window {s} uncovered"

    check()


def test_winnow_overlap_pairs_detects_planted_run(spark):
    """End-to-end detector check: two docs sharing a verbatim
    w + k - 1 + w = 19-token run (long enough that the shared run
    selects >= MIN_SHARED fingerprints) surface as a pair; fully
    disjoint-vocabulary docs never pair; the boilerplate stop filter
    drops a hash shared by MORE than stop_df docs."""
    from flink_kafka_spark.operators.text import winnow_overlap_pairs

    run = " ".join(f"shared{i}" for i in range(19))
    docs = [
        (1, "alpha beta gamma " + run + " delta epsilon"),
        (2, "one two three four five " + run + " six seven"),
        (3, " ".join(f"only3tok{i}" for i in range(40))),
        (4, " ".join(f"only4tok{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r for r in winnow_overlap_pairs(df).collect()}
    assert (1, 2) in pairs, "planted 19-token run not detected"
    assert pairs[(1, 2)].n_shared >= 2
    assert all(p == (1, 2) for p in pairs), f"false pairs: {set(pairs) - {(1, 2)}}"

    # boilerplate guard: the same doc body in stop_df+1 docs pairs
    # nothing when every shared hash exceeds the stop frequency
    boiler = [(i, "copy " + " ".join(f"b{j}" for j in range(30))) for i in range(7)]
    bdf = spark.createDataFrame(boiler, "doc_id long, text string")
    assert winnow_overlap_pairs(bdf, stop_df=5).count() == 0


def test_winnow_plan_does_not_duplicate_the_hash_pipeline(spark, sf_dir):
    """Regression pin for the r16 lambda-binding quadratic: when a
    stage's input array is referenced inside a HOF lambda body (rather
    than bound as the lambda's argument), projection collapse inlines
    the defining expression into every reference and the runtime
    re-evaluates it per lambda call — the optimized plan's tell is the
    md5/split expression text appearing many times (4x/13x in the
    broken shape vs 2x/5x bound). Pin the occurrence counts so a
    refactor that un-binds a stage fails here instead of costing 144x
    at scale (caught originally by tools/stress.py --curve, 223 s at
    sf0.1)."""
    from flink_kafka_spark.operators.text import winnow_fingerprints
    from flink_kafka_spark.tables import load

    df = winnow_fingerprints(load(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") <= 2, f"md5 duplicated {plan.count('md5')}x — lambda binding lost"
    assert plan.count("split(") <= 5, f"split duplicated {plan.count('split(')}x — lambda binding lost"


def test_winnow_decontaminate_planted_and_stored_index(spark):
    """The decontamination consumer's contract (r17):

    - PLANTED LEAK — a train doc copying a w + k - 1 = 11-token run
      from an eval doc is flagged (the SIGMOD'03 guarantee end to
      end), with best_eval_id pointing at the leaking eval doc;
    - CLEAN — disjoint-vocabulary train docs emit no rows;
    - STORED INDEX — precomputing winnow_eval_index and passing it as
      ``eval_index`` is row-identical to the inline path (the
      incremental/nightly production shape);
    - TIE-BREAK — equal shared-hash counts resolve to the LOWEST
      eval id.
    """
    from flink_kafka_spark.operators.text import (
        winnow_decontaminate,
        winnow_eval_index,
    )

    leak = " ".join(f"leak{i}" for i in range(11))
    # eval 100/101 are byte-identical (duplicate benchmark items) so
    # their fingerprint sets — hence doc 20's shared counts — are
    # equal, exercising the lowest-eval-id tie-break deterministically
    shared_run = " ".join(f"twin{i}" for i in range(19))
    dup_text = "intro words " + shared_run + " outro words"
    eval_docs = [
        (100, dup_text),
        (101, dup_text),
        (102, "standalone benchmark " + leak + " question answer"),
    ]
    train_docs = [
        (10, "regular corpus text " + leak + " more corpus text"),
        (11, " ".join(f"clean{i}" for i in range(40))),
        (20, "prefix tokens " + shared_run + " suffix tokens"),
    ]
    ev = spark.createDataFrame(eval_docs, "doc_id long, text string")
    tr = spark.createDataFrame(train_docs, "doc_id long, text string")

    inline = {r.doc_id: r for r in winnow_decontaminate(tr, ev).collect()}
    assert 10 in inline, "planted 11-token leak not detected"
    assert inline[10].best_eval_id == 102
    assert inline[10].n_shared_fp >= 1
    assert 11 not in inline, "clean doc falsely flagged"
    assert 20 in inline and inline[20].n_eval_docs == 2
    # the shared run is verbatim in eval 100 and 101 -> identical
    # shared-hash sets -> tie resolves to the lowest eval id
    assert inline[20].best_eval_id == 100

    idx = winnow_eval_index(ev)
    stored = {r.doc_id: r for r in winnow_decontaminate(tr, eval_index=idx).collect()}
    assert {k: tuple(v) for k, v in inline.items()} == {
        k: tuple(v) for k, v in stored.items()
    }, "stored-index path diverges from inline path"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="eval_df or a stored eval_index"):
        winnow_decontaminate(tr)


def test_block_shuffle_determinism_and_contiguity(spark, sf_dir):
    """The two-level epoch shuffle's contract: (a) identical
    (block_id, block_pos) for every row regardless of input
    partitioning; (b) positions inside each block are contiguous
    0..n-1; (c) a different seed produces a different order (not the
    identity re-labeling); (d) every input id appears exactly once."""
    from flink_kafka_spark.operators.sampling import block_shuffle
    from flink_kafka_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    a = {r.doc_id: (r.block_id, r.block_pos) for r in block_shuffle(docs).collect()}
    b = {
        r.doc_id: (r.block_id, r.block_pos)
        for r in block_shuffle(docs.repartition(7)).collect()
    }
    assert a == b, "block shuffle depends on input partitioning"
    assert len(a) == docs.count()
    by_block: dict = {}
    for blk, pos in a.values():
        by_block.setdefault(blk, []).append(pos)
    for blk, positions in by_block.items():
        assert sorted(positions) == list(range(len(positions))), f"block {blk} gapped"
    c = {r.doc_id: (r.block_id, r.block_pos) for r in block_shuffle(docs, seed=7).collect()}
    assert c != a, "seed change did not move any row"


def test_winnow_rejects_over_long_documents(spark):
    """The 2^20-token position bound fails LOUDLY: past it the packed
    position complement would borrow from the hash field and corrupt
    fingerprints silently, so the shingle stage raises instead."""
    import pytest as _pytest

    from flink_kafka_spark.operators.text import winnow_fingerprints

    big = spark.range(1).selectExpr(
        "id AS doc_id",
        "array_join(array_repeat('x', 1048581), ' ') AS text",
    )
    with _pytest.raises(Exception, match="pre-chunk long documents"):
        winnow_fingerprints(big).collect()


def test_block_assignment_handles_names_needing_backticks(spark):
    """r16 advice: block_assignment interpolated id_col into a raw SQL
    expr, so a column name with a space/dot/hyphen broke the block
    hash while the column-API order key handled it fine. Both columns
    now go through the column API — pin with a spaced name, and pin
    that the rewrite did NOT change the hash (same (block_id, _k) as
    the plain-named twin)."""
    from flink_kafka_spark.operators.sampling import block_assignment

    rows = [(i,) for i in range(50)]
    plain = spark.createDataFrame(rows, "doc_id long")
    spaced = plain.withColumnRenamed("doc_id", "doc id")
    a = {
        r["doc_id"]: (r["block_id"], r["_k"])
        for r in block_assignment(plain, "doc_id").collect()
    }
    b = {
        r["doc id"]: (r["block_id"], r["_k"])
        for r in block_assignment(spaced, "doc id").collect()
    }
    assert a == b, "block assignment depends on the column NAME, not the values"


def test_winnow_decontaminate_rejects_colliding_id_column(spark):
    """Internal-column collision guard: an id column literally named
    eval_id or fp_hash would silently mis-join against the eval index
    — refuse loudly instead."""
    import pytest as _pytest

    from flink_kafka_spark.operators.text import winnow_decontaminate

    df = spark.createDataFrame([(1, "a b c d e")], "eval_id long, text string")
    with _pytest.raises(ValueError, match="collides with an internal column"):
        winnow_decontaminate(df, df, id_col="eval_id")


@pytest.mark.slow  # slow tier (r19): winnow_contaminated_spans' full DuckDB oracle runs in the default sweep
def test_winnow_contaminated_spans_localizes_planted_runs(spark):
    """The excision consumer's contract: a train doc leaking TWO
    separated eval runs yields exactly two spans, each inside its
    planted run's token extent (matched shingles are pure-run
    shingles when contexts differ, so the span never bleeds into
    clean context); runs closer than the merge gap collapse to one
    span; clean docs yield nothing; stored-index path row-identical."""
    from flink_kafka_spark.operators.text import (
        winnow_contaminated_spans,
        winnow_eval_index,
    )

    run_a = " ".join(f"ra{i}" for i in range(14))   # tokens 3..16
    run_b = " ".join(f"rb{i}" for i in range(14))   # tokens 36..49
    ctx = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    eval_df = spark.createDataFrame(
        [(100, "eq " + run_a + " ea"), (101, "ex " + run_b + " ey")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # 3 ctx + run_a(14) + 19 ctx + run_b(14) + 3 ctx: the two
            # leaks sit ~19 tokens apart -> separate islands at gap 11
            (10, ctx("c", 3) + " " + run_a + " " + ctx("m", 19) + " " + run_b + " " + ctx("t", 3)),
            (11, ctx("z", 40)),
        ],
        "doc_id long, text string",
    )
    rows = winnow_contaminated_spans(train, eval_df).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end, r.n_fps))
    assert 11 not in by_doc, "clean doc produced spans"
    spans = sorted(by_doc[10])
    assert len(spans) == 2, f"expected two islands, got {spans}"
    # run_a occupies token positions 3..16 (shingle starts 3..13);
    # run_b occupies 36..49 (shingle starts 36..46)
    s0, e0, n0 = spans[0]
    s1, e1, n1 = spans[1]
    assert 3 <= s0 and e0 <= 16, f"span 0 escapes run A: {spans[0]}"
    assert 36 <= s1 and e1 <= 49, f"span 1 escapes run B: {spans[1]}"
    assert n0 >= 1 and n1 >= 1

    # stored-index path is row-identical
    idx = winnow_eval_index(eval_df)
    stored = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_fps)
        for r in winnow_contaminated_spans(train, eval_index=idx).collect()
    )
    assert stored == sorted((10, *s) for s in spans)

    # a merge_gap wide enough to bridge the 19-token gap collapses
    # the two leaks into ONE island
    merged = winnow_contaminated_spans(train, eval_df, merge_gap=40).collect()
    ten = [r for r in merged if r.doc_id == 10]
    assert len(ten) == 1 and ten[0].n_fps == n0 + n1


def test_winnow_decontaminate_trim_removes_every_planted_run_token(spark):
    """The excision guarantee end to end: every token of a leaked run
    of guarantee length (>= w + k - 1 = 11) is REMOVED under the
    default w - 1 pad (the operator docstring's proof: run-interior
    w-windows select identical fingerprints on both sides, so matched
    positions cover the run at gaps < w and sit within w - 1 of each
    edge); clean docs pass through token-identical; the doc keeps its
    non-leaked context; an all-leak doc trims to empty. Fuzzed over
    context lengths so the run sits at different offsets, including
    flush at the start/end of the doc."""
    from flink_kafka_spark.operators.text import winnow_decontaminate_trim

    run = " ".join(f"rk{i}" for i in range(23))  # 2x guarantee length
    eval_df = spark.createDataFrame(
        [(100, "eq1 eq2 " + run + " ez1 ez2")], "doc_id long, text string"
    )
    cases = []
    did = 0
    for pre in (0, 1, 5, 12):
        for post in (0, 3, 9):
            did += 1
            ctx_a = " ".join(f"a{did}x{i}" for i in range(pre))
            ctx_b = " ".join(f"b{did}x{i}" for i in range(post))
            text = " ".join(x for x in (ctx_a, run, ctx_b) if x)
            cases.append((did, text, pre, post))
    cases.append((90, " ".join(f"clean{i}" for i in range(30)), None, None))
    train = spark.createDataFrame(
        [(d, t) for d, t, *_ in cases], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in winnow_decontaminate_trim(train, eval_df).collect()}
    run_toks = set(run.split())
    for did, text, pre, post in cases:
        r = out[did]
        kept = r.clean_text.split() if r.clean_text else []
        if pre is None:  # the clean doc
            assert kept == text.split() and r.n_removed == 0
            continue
        assert not (set(kept) & run_toks), (
            f"doc {did} (pre={pre}, post={post}): run tokens survived: "
            f"{set(kept) & run_toks}"
        )
        assert r.n_removed >= 23
        # surviving context is a subsequence of the original context
        # (the pad may eat up to w-1 context tokens per side, never more)
        orig = text.split()
        assert all(t in orig for t in kept)
        assert len(kept) >= max(pre - 7, 0) + max(post - 7, 0)
    # all-leak doc: the run alone trims to the empty string
    solo = spark.createDataFrame([(200, run)], "doc_id long, text string")
    rows = {r.doc_id: r for r in winnow_decontaminate_trim(solo, eval_df).collect()}
    assert rows[200].clean_text == "" and rows[200].n_removed == 23


def test_rrf_fuse_single_list_preserves_ranking_and_scores(spark):
    """Degenerate RRF: fusing ONE ranked list must reproduce its order
    exactly, with score 1/(c+rank) at e12 integer precision (the
    operator's exact-arithmetic contract)."""
    from flink_kafka_spark.operators.text import rrf_fuse

    ranking = spark.createDataFrame(
        [(100 + i, i + 1) for i in range(20)], "doc_id long, rank int"
    )
    out = rrf_fuse([ranking], k=20, c=60).collect()
    assert [r["doc_id"] for r in out] == [100 + i for i in range(20)]
    for r in out:
        e12 = 10**12 // (60 + r["rank"])
        assert r["rrf_score"] == ((e12 + 500_000) // 1_000_000) / 1e6
        assert r["n_lists"] == 1


def test_rrf_fuse_consensus_beats_single_list_presence(spark):
    """A doc ranked mid-list in BOTH rankers must outscore a doc that
    tops only one (1/(60+5)+1/(60+5) > 1/(60+1)) — the consensus
    property that makes RRF the standard hybrid combiner; ties and
    absences follow the SIGIR'09 convention (absent list contributes
    nothing)."""
    from flink_kafka_spark.operators.text import rrf_fuse

    a = spark.createDataFrame([(1, 1), (3, 5)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 5)], "doc_id long, rank int")
    out = {r["doc_id"]: r for r in rrf_fuse([a, b], k=3, c=60).collect()}
    assert out[3]["rank"] == 1 and out[3]["n_lists"] == 2
    assert {out[1]["rank"], out[2]["rank"]} == {2, 3}
    # doc_id tie-break between the two single-list docs (equal scores)
    assert out[1]["rank"] == 2


def test_winnow_decontaminate_multi_single_bench_reduces_to_single(spark, sf_dir):
    """The multi-benchmark detector restricted to ONE benchmark index
    is the single detector, row for row — the reduction that
    qualifies winnow_decontaminate_multi as a generalization rather
    than a drifting reimplementation (same train frame, same index,
    only the bench tag added)."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.text import (
        winnow_decontaminate,
        winnow_decontaminate_multi,
        winnow_eval_index,
    )
    from flink_kafka_spark.queries.textops import DECON_MOD
    from flink_kafka_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0
    train, ev = docs.filter(~is_eval), docs.filter(is_eval)
    idx = winnow_eval_index(ev)
    single = sorted(map(tuple, winnow_decontaminate(train, eval_index=idx).collect()))
    multi = winnow_decontaminate_multi(train, idx.withColumn("bench_id", F.lit("b0")))
    assert sorted(r["bench_id"] for r in multi.select("bench_id").distinct().collect()) in ([], ["b0"])
    reduced = sorted(map(tuple, multi.drop("bench_id").collect()))
    assert reduced == single


def test_rrf_fuse_and_interleave_reject_colliding_columns(spark):
    """The internal-column collision guards (the winnow-family rule
    applied to the r18 operators): a caller whose id column happens to
    be named like an internal/output column gets a loud error, not a
    silently corrupted frame."""
    import pytest

    from flink_kafka_spark.operators.sampling import source_interleave
    from flink_kafka_spark.operators.text import rrf_fuse

    r = spark.createDataFrame([(1, 1)], "n_lists long, rank int")
    with pytest.raises(ValueError, match="collides"):
        rrf_fuse([r], id_col="n_lists")
    d = spark.createDataFrame([(1, "a")], "position long, source string")
    with pytest.raises(ValueError, match="collides"):
        source_interleave(d, id_col="position")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestVectorizedBpeMergeStep:
    """_bpe_merge_step's vectorized (left != right) formulation must be
    element-for-element identical to the greedy fold it replaced —
    including run pathologies, both-ends candidates and symbols that
    already contain the pair string."""

    FOLD_CASES = [
        ["a", "b"], ["a", "b", "a", "b"], ["a", "a", "b"],
        ["b", "a", "b", "a", "b"], ["a"], [], ["b", "b", "a"],
        ["ab", "a", "b"], ["a", "ab", "b"], ["a", "b", "b"],
        ["c", "a", "b", "c", "a", "b", "a"],
    ]

    @pytest.mark.parametrize("pair", [("a", "b"), ("b", "a"), ("ab", "a"), ("a", "ab"), ("c", "a")])
    def test_matches_fold(self, spark, pair):
        from flink_kafka_spark.operators.text import _bpe_merge_step

        left, right = pair
        a, b, ab = F.lit(left), F.lit(right), F.lit(left + right)
        fold = F.aggregate(
            "syms",
            F.expr("cast(array() as array<string>)"),
            lambda acc, x: F.when(
                (F.try_element_at(acc, F.lit(-1)) == a) & (x == b),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(ab)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        df = spark.createDataFrame([(s,) for s in self.FOLD_CASES], "syms array<string>")
        rows = df.select(
            _bpe_merge_step("syms", left, right).alias("vec"), fold.alias("fold")
        ).collect()
        for r in rows:
            assert r["vec"] == r["fold"]

    def test_equal_pair_uses_fold_for_run_greediness(self, spark):
        # left == right falls back to the fold: aaa -> [aa, a]
        from flink_kafka_spark.operators.text import _bpe_merge_step

        df = spark.createDataFrame([(["a", "a", "a"],)], "syms array<string>")
        assert df.select(_bpe_merge_step("syms", "a", "a").alias("m")).first()["m"] == ["aa", "a"]


class TestWeightedCms:
    """count_min_sketch(weight_col=...) over the pre-aggregated vocab
    must be cell-for-cell identical to the occurrence-stream sketch
    (the CM merge property the cms_topk_estimates rewrite relies on)."""

    def test_weighted_equals_occurrence_path(self, spark, sf_dir):
        toks = (
            load(spark, sf_dir, "documents")
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .where(F.col("tok") != "")
        )
        occ = count_min_sketch(toks, "tok", width=64, depth=3)
        vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        weighted = count_min_sketch(vocab, "tok", width=64, depth=3, weight_col="cnt")
        assert _rows(weighted) == _rows(occ)


class TestBpeTrainAndTokenize:
    """r19: bpe_tokenize_stats reuses the trainer's final vocabulary
    state instead of re-deriving it merge-layer by merge-layer. The
    fused composition must be row-identical to the two-step one
    (learn, collect the table, apply) — including the learned merge
    table itself when state is requested."""

    def test_fused_equals_two_step_composition(self, spark, sf_dir):
        docs = load(spark, sf_dir, "documents")
        merges = [
            (r["left"], r["right"])
            for r in bpe_learn_merges(docs, n_merges=8).collect()
        ]
        two_step = _rows(bpe_apply_merges(docs, merges))
        fused = _rows(bpe_train_and_tokenize(docs, n_merges=8))
        assert fused == two_step

    def test_state_request_leaves_merge_table_unchanged(self, spark, sf_dir):
        docs = load(spark, sf_dir, "documents")
        plain = _rows(bpe_learn_merges(docs, n_merges=4))
        with_state, state = bpe_learn_merges(
            docs, n_merges=4, return_vocab_state=True
        )
        assert _rows(with_state) == plain
        # the state is the vocabulary with every merge applied: its
        # token counts must match applying the merge table from scratch
        from pyspark.sql import functions as F

        merges = [(r[1], r[2]) for r in plain]
        via_state = _rows(state.select("w", F.size("syms").alias("n")))
        sym0 = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        from flink_kafka_spark.operators.text import _bpe_merge_step, _bpe_words

        vocab = _bpe_words(docs, "doc_id", "text").select("w").distinct().select(
            "w", sym0.alias("_s")
        )
        for left, right in merges:
            vocab = vocab.select("w", _bpe_merge_step("_s", left, right).alias("_s"))
        from_scratch = _rows(vocab.select("w", F.size("_s").alias("n")))
        assert via_state == from_scratch

    def test_empty_corpus_state(self, spark):
        docs = spark.createDataFrame(
            [(1, ""), (2, None)], "doc_id long, text string"
        )
        table, state = bpe_learn_merges(docs, n_merges=3, return_vocab_state=True)
        assert table.count() == 0
        assert state.count() == 0
        assert _rows(bpe_train_and_tokenize(docs, n_merges=3)) == _rows(
            bpe_apply_merges(docs, [])
        )
