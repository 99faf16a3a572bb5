"""Multimodal plumbing: synthesized media table, mapInPandas decode /
frame-sample / feature-extract, and the standard-library WAV header
parse.
Oracle equivalence for decode/frame-sample runs via test_oracle.py; here
we pin the non-SQL pieces against pure-Python references."""

import hashlib

import numpy as np
import pytest

from flink_kafka_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    resize_image_batch,
    synthesize_media,
)
from flink_kafka_spark.tables import load


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return synthesize_media(load(spark, sf_dir, "documents")).cache()


def test_media_schema_and_payload(media, spark, sf_dir):
    row = media.orderBy("doc_id").first()
    doc = load(spark, sf_dir, "documents").orderBy("doc_id").first()
    assert bytes(row.payload) == doc.text.encode("utf-8")
    assert row.kind in ("image", "audio", "video")
    assert row.meta.byte_len == len(doc.text.encode("utf-8"))


def test_extract_features_matches_numpy_reference(media, spark, sf_dir):
    dim = 8
    got = {r.doc_id: list(r.features) for r in extract_features(media, dim).collect()}
    docs = {r.doc_id: r.text.encode() for r in load(spark, sf_dir, "documents").collect()}
    assert set(got) == set(docs)
    for doc_id, payload in list(docs.items())[:25]:
        arr = np.frombuffer(payload, dtype=np.uint8)
        want = [round(float(arr[j::dim].mean()) if arr[j::dim].size else 0.0, 4) for j in range(dim)]
        assert got[doc_id] == pytest.approx(want, abs=1e-4), doc_id


def test_frame_sample_reassembles(media, spark, sf_dir):
    frames = frame_sample(media, 64).collect()
    docs = {r.doc_id: r.text.encode() for r in load(spark, sf_dir, "documents").collect()}
    by_doc = {}
    for f in frames:
        by_doc.setdefault(f.doc_id, []).append(f)
    assert set(by_doc) == set(docs)
    for doc_id, fs in list(by_doc.items())[:25]:
        fs.sort(key=lambda f: f.frame_idx)
        payload = docs[doc_id]
        assert [f.frame_idx for f in fs] == list(range(len(fs)))
        assert sum(f.frame_len for f in fs) == len(payload)
        for f in fs:
            chunk = payload[f.frame_idx * 64 : f.frame_idx * 64 + 64]
            assert f.frame_md5 == hashlib.md5(chunk).hexdigest()


def test_resize_truncates_and_pads(media):
    out = resize_image_batch(media, 8, 4).collect()
    assert all(len(bytes(r.payload)) == 32 for r in out)
    assert all(r.meta.byte_len == 32 for r in out)


def test_documents_fixture_is_ascii_everywhere(spark):
    """MEDIA_FEATURES_ORACLE (queries/multimodal.py) compares a
    character-based DuckDB recompute (ascii/substring/length) against
    ``extract_features`` operating on UTF-8 payload BYTES; the parity
    holds only while every fixture text is single-byte. If
    a future fixture plants non-ASCII (e.g. mojibake for
    encoding_audit), fail HERE with the real cause rather than as an
    opaque driver hash mismatch."""
    import os

    from pyspark.sql import functions as F

    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = os.path.join("/root/testdata", sf)
        if not os.path.isdir(path):
            continue
        checked += 1
        bad = (
            load(spark, path, "documents")
            .filter(F.length("text") != F.octet_length("text"))
            .count()
        )
        assert bad == 0, (
            f"{sf}: {bad} non-ASCII documents — the char-based "
            "media-features oracle no longer matches the byte-based "
            "operator; rewrite MEDIA_FEATURES_ORACLE byte-wise first"
        )
    # the guard must have guarded something (the timeseries fixture
    # test's rule): a moved fixture path silently passing would leave
    # the ASCII invariant unverified until a driver hash mismatch
    assert checked, "no testdata fixture found — ASCII guard ran on nothing"


def test_media_features_check_survives_short_docs(spark, monkeypatch, tmp_path):
    """Docs shorter than 8 bytes must not abort the JVM recompute:
    sequence(lo, hi, step) throws under ANSI when lo > hi, so the
    per-dim stride is CASE-guarded and an absent stride compares as
    the numpy path's 0.0 fill — violations stays 0 for a corpus of
    1-, 3- and 7-char docs beside a normal one."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.queries import multimodal as M

    rows = [(1, "a"), (2, "abc"), (3, "1234567"), (4, "a longer document body")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df = df.select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.length("text").alias("n_chars"),
    )
    pq = str(tmp_path / "documents.parquet")
    df.write.parquet(pq)

    import flink_kafka_spark.tables as T

    real_load = T.load

    def fake_load(spark_, sf_dir_, name):
        if name == "documents":
            return spark_.read.parquet(pq)
        return real_load(spark_, sf_dir_, name)

    monkeypatch.setattr(M, "load", fake_load)
    (row,) = M.media_features_check(spark, "ignored").collect()
    assert row["violations"] == 0


def _py_phash(data: bytes):
    """Independent pure-Python reference (no numpy): cell sums by
    position mod 64, integer cross-multiply threshold, little-endian
    bit pack into four 16-bit chunks."""
    L = len(data)
    s, n = [0] * 64, [0] * 64
    for i, byte in enumerate(data):
        s[i % 64] += byte
        n[i % 64] += 1
    t = sum(s)
    bits = [1 if s[j] * L > t * n[j] else 0 for j in range(64)]
    return tuple(
        sum(bits[16 * c + k] << k for k in range(16)) for c in range(4)
    )


def test_perceptual_hash_matches_pure_python_and_excludes_short(spark):
    """The numpy mapInPandas path must agree bit-for-bit with a
    loop-and-ints reference, and payloads under PHASH_MIN_BYTES (or
    NULL) must emit no row — the oracle's WHERE clause in operator
    form."""
    from flink_kafka_spark.operators.multimodal import (
        PHASH_MIN_BYTES,
        perceptual_hash,
    )

    texts = {
        1: "x" * 63,                       # one short of the bound -> excluded
        2: "y" * 64,                       # exactly at the bound -> kept
        3: "the quick brown fox jumps over the lazy dog " * 5,
        4: None,                           # NULL payload -> excluded
        5: "".join(chr(32 + (i * 7) % 95) for i in range(300)),
    }
    df = spark.createDataFrame(
        [(i, t.encode() if t is not None else None) for i, t in texts.items()],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: (r.ph0, r.ph1, r.ph2, r.ph3) for r in perceptual_hash(df).collect()}
    assert set(got) == {2, 3, 5}
    for doc_id in got:
        assert got[doc_id] == _py_phash(texts[doc_id].encode()), doc_id
        assert all(0 <= c <= 0xFFFF for c in got[doc_id])
    assert len(texts[1]) == PHASH_MIN_BYTES - 1  # the bound itself is pinned


def test_phash_pairs_pigeonhole_is_complete(spark):
    """Planted corpus: the bucketed pair search must emit EXACTLY the
    all-pairs Hamming<=3 set — pigeonhole over 4x16-bit chunks is a
    completeness guarantee, not a recall heuristic. Includes identical
    payloads (Hamming 0), single-flip neighbors, and far pairs."""
    from flink_kafka_spark.operators.multimodal import perceptual_hash, phash_pairs

    base = "".join(chr(32 + (i * 11) % 95) for i in range(256))
    variants = {
        10: base,
        11: base,                                  # exact dup of 10
        12: base[:-1] + ("!" if base[-1] != "!" else "?"),  # near dup
        13: base[:128] + base[:128][::-1],         # related but farther
        14: "z" * 256,                             # constant payload
        15: "".join(chr(32 + (i * 29) % 95) for i in range(256)),
    }
    df = spark.createDataFrame(
        [(i, t.encode()) for i, t in variants.items()], "doc_id long, payload binary"
    )
    got = {(r.id_a, r.id_b): r.hamming for r in phash_pairs(df, max_hamming=3).collect()}

    sigs = {i: _py_phash(t.encode()) for i, t in variants.items()}

    def hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    ids = sorted(sigs)
    want = {
        (a, b): hamming(sigs[a], sigs[b])
        for ai, a in enumerate(ids)
        for b in ids[ai + 1:]
        if hamming(sigs[a], sigs[b]) <= 3
    }
    assert got == want
    assert (10, 11) in got and got[(10, 11)] == 0  # the planted exact dup
    import pytest as _pytest

    with _pytest.raises(ValueError):
        phash_pairs(df, max_hamming=4)


def test_phash_incremental_verdicts_and_stored_index_path(spark):
    """Planted cross-corpus truth: batch payloads that byte-copy a
    reference payload come back non-novel with the right best match,
    unique batch payloads come back novel, sub-minimum payloads get NO
    verdict row (unhashable, not novel), and passing a STORED
    reference signature frame (the production path that never rescans
    the reference) yields the identical verdict frame."""
    from flink_kafka_spark.operators.multimodal import (
        perceptual_hash,
        phash_incremental,
    )

    mk = lambda seed, n=200: "".join(chr(32 + (i * seed) % 95) for i in range(n))
    ref_rows = {100: mk(7), 102: mk(11), 104: mk(7)}        # 100 and 104 identical
    batch_rows = {
        1: mk(7),     # copy of refs 100 AND 104 -> 2 dups, best_ref_id 100
        3: mk(13),    # unique -> novel
        5: mk(11),    # copy of ref 102 -> 1 dup
        7: "tiny",    # sub-minimum -> no verdict row
    }
    ref = spark.createDataFrame(
        [(i, t.encode()) for i, t in ref_rows.items()], "doc_id long, payload binary"
    )
    batch = spark.createDataFrame(
        [(i, t.encode()) for i, t in batch_rows.items()], "doc_id long, payload binary"
    )
    out = {r.doc_id: r for r in phash_incremental(batch, ref).collect()}
    assert set(out) == {1, 3, 5}
    assert out[1].is_novel == 0 and out[1].n_ref_dups == 2
    assert out[1].best_ref_id == 100 and out[1].best_hamming == 0
    assert out[3].is_novel == 1 and out[3].n_ref_dups == 0
    assert out[3].best_ref_id is None and out[3].best_hamming is None
    assert out[5].is_novel == 0 and out[5].n_ref_dups == 1
    assert out[5].best_ref_id == 102 and out[5].best_hamming == 0

    stored = perceptual_hash(ref)
    via_index = {
        r.doc_id: r for r in phash_incremental(batch, ref, ref_sig=stored).collect()
    }
    assert {i: tuple(r) for i, r in out.items()} == {
        i: tuple(r) for i, r in via_index.items()
    }

    # an invalid bound must raise BEFORE the batch-signature persist is
    # registered (no stranded caching._LIVE entry)
    from flink_kafka_spark import caching

    tracked = len(caching._LIVE)
    with pytest.raises(ValueError):
        phash_incremental(batch, ref, max_hamming=4)
    assert len(caching._LIVE) == tracked


def test_phash_kernel_fuzz_against_pure_python_reference():
    """Hypothesis fuzz of the numpy kernel against the loop-and-ints
    reference: arbitrary byte payloads (including the length-64
    boundary, long runs, and all-equal bytes where every cross-multiply
    ties and all bits must be 0) hash identically, and sub-minimum /
    NULL payloads return None. No Spark round-trip — the kernel is the
    exact function the mapInPandas path applies per row."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flink_kafka_spark.operators.multimodal import (
        PHASH_MIN_BYTES,
        phash_chunks,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.binary(min_size=0, max_size=512))
    def check(payload: bytes) -> None:
        got = phash_chunks(payload)
        if len(payload) < PHASH_MIN_BYTES:
            assert got is None
            return
        assert got == _py_phash(payload)
        assert all(0 <= c <= 0xFFFF for c in got)

    check()
    assert phash_chunks(None) is None
    # the all-ties degenerate: every cell mean equals the payload mean,
    # strict > leaves every bit 0
    assert phash_chunks(b"\x55" * 64) == (0, 0, 0, 0)


def _wav_bytes(rate: int = 8000, seconds: float = 1.0, freq: float = 440.0) -> bytes:
    """A real 16-bit mono RIFF/WAV payload via the stdlib wave module."""
    import io
    import math
    import struct
    import wave

    n = int(rate * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(
                struct.pack(
                    "<h", int(20000 * math.sin(2 * math.pi * freq * i / rate))
                )
                for i in range(n)
            )
        )
    return buf.getvalue()


def test_wav_header_duration_is_a_real_container_parse():
    """The one real (non-fake) media parse that runs in EVERY
    environment: wav_duration_ms reads an actual RIFF header (stdlib
    wave, no external codec). 1 s at 8 kHz reads back as 1000 ms;
    non-WAV payloads return None instead of raising — corrupt payloads
    are data, not bugs."""
    from flink_kafka_spark.operators.multimodal import wav_duration_ms

    assert wav_duration_ms(_wav_bytes(rate=8000, seconds=1.0)) == 1000
    assert wav_duration_ms(_wav_bytes(rate=44100, seconds=0.5)) == 500
    assert wav_duration_ms(b"not a wav payload at all") is None
    assert wav_duration_ms(b"") is None
