"""Multimodal (image / audio / video) column handling.

The reference has no multimodal surface (SURVEY.md §1.1: flat
long/int/string POJOs only); this module is the training-data-pipeline
extension scope from the build brief. Media are modeled as opaque
``binary`` payload columns plus typed metadata, and processed with
Arrow-batched ``mapInPandas`` so the Spark-side plumbing — schema,
partitioning, UDF signature, batch shape — is real even though the
actual codec work is stubbed (the engine depends on no image or audio
codec library; :func:`wav_duration_ms` is the one real parse, on the
standard library's ``wave``).

Scale design (100 TB):
- Every operator here is a **narrow** transformation — no shuffle. A
  1000-executor cluster processes payload partitions fully in parallel
  with zero network traffic beyond the scan.
- Payloads stream through Arrow record batches (``mapInPandas``
  iterator form), never a full-partition materialization and never a
  driver collect. Batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``.
- Metadata-only consumers drop the payload column immediately after
  extraction; Parquet column pruning then skips the heavy bytes at scan
  time for any downstream query that re-reads the output.
- Input split sizing is governed by ``spark.sql.files.maxPartitionBytes``
  — large media files split per-row-group without repartitioning.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_KINDS = ("image", "audio", "video")

#: Schema of a media table: opaque payload + typed source metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("byte_len", LongType()),
                    StructField("source", StringType()),
                ]
            ),
        ),
    ]
)


def synthesize_media(documents: DataFrame) -> DataFrame:
    """Derive a deterministic media table from ``documents``.

    The container has no real image/audio fixtures, so the UTF-8 bytes
    of ``text`` stand in as the opaque payload (documents are ASCII, so
    byte semantics are reproducible in any oracle). ``kind`` cycles
    image/audio/video by ``doc_id % 3``. Entirely JVM-side expressions
    — no Python in this step.
    """
    kind = F.element_at(F.array(*[F.lit(k) for k in MEDIA_KINDS]), (F.col("doc_id") % 3 + 1).cast("int"))
    return documents.select(
        "doc_id",
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.octet_length("text").cast("long").alias("byte_len"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


DECODED_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("byte_len", LongType()),
        StructField("checksum", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def decode_media_meta(media: DataFrame) -> DataFrame:
    """"Decode" each payload into typed metadata via ``mapInPandas``.

    The decode itself is a deterministic fake (the engine depends on no
    codec library): width/height derive from the first payload
    bytes, duration from the byte length. The *plumbing* is the real
    thing being exercised: Arrow iterator-of-batches in, declared
    result schema out, payload column consumed and dropped so
    downstream stages never carry the heavy bytes.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            kinds = pdf["kind"]
            visual = kinds.isin(["image", "video"]).to_numpy()
            timed = kinds.isin(["audio", "video"]).to_numpy()
            n = pd.Series([len(p) for p in payloads], index=pdf.index, dtype="int64")
            first = pd.Series([p[0] if p else 0 for p in payloads], index=pdf.index, dtype="int64")
            second = pd.Series([p[1] if len(p) > 1 else 0 for p in payloads], index=pdf.index, dtype="int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": kinds,
                    "byte_len": n,
                    "checksum": [hashlib.md5(p).hexdigest() for p in payloads],
                    "width": pd.array((64 + first).where(visual), dtype="Int64"),
                    "height": pd.array((64 + second).where(visual), dtype="Int64"),
                    "duration_ms": pd.array((n * 40).where(timed), dtype="Int64"),
                }
            )

    return media.mapInPandas(decode, DECODED_META_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_len", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def frame_sample(media: DataFrame, frame_bytes: int = 64) -> DataFrame:
    """Split each payload into fixed-size frames (video frame-sampling
    shape): one output row per ``frame_bytes`` chunk, with per-frame
    checksum. Narrow row-explosion inside ``mapInPandas`` — output rows
    stay on the producing partition, no shuffle.
    """

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, md5s = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                # empty payloads emit zero frames, matching the oracle's
                # ceil(length/frame_bytes) row count
                for i in range(0, len(data), frame_bytes):
                    chunk = data[i : i + frame_bytes]
                    ids.append(doc_id)
                    idxs.append(i // frame_bytes)
                    lens.append(len(chunk))
                    md5s.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_len": lens, "frame_md5": md5s}
            )

    return media.select("doc_id", "payload").mapInPandas(frames, FRAME_SCHEMA)


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("features", ArrayType(DoubleType())),
        StructField("dim", IntegerType()),
    ]
)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Fixed-size float feature vector per payload (strided byte means)
    — the shape of an embedding/feature-extraction stage. NumPy inside
    Arrow batches; vectorized, never per-row Python in the hot loop.

    Components are doubles rounded with the repo-wide half-up
    convention (``floor(x*1e4 + 0.5)/1e4``) so the numpy path, the JVM
    recompute in ``media_features_check`` and the DuckDB oracle all
    land on the identical bit pattern: the strided sum of uint8 bytes
    is exact in float64, the division is one IEEE op on both engines,
    and the floor-based round is a pure function of that double.
    """
    import math

    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                if arr.size == 0:
                    out.append([0.0] * dim)
                    continue
                out.append(
                    [
                        math.floor(float(arr[j::dim].mean()) * 10000 + 0.5) / 10000
                        if arr[j::dim].size
                        else 0.0
                        for j in range(dim)
                    ]
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "features": out, "dim": [dim] * len(pdf)}
            )

    return media.select("doc_id", "payload").mapInPandas(feats, FEATURE_SCHEMA)


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ph0", IntegerType()),
        StructField("ph1", IntegerType()),
        StructField("ph2", IntegerType()),
        StructField("ph3", IntegerType()),
    ]
)

#: Docs shorter than this many payload bytes are skipped by the pHash
#: family (every cell must have >=1 byte; tiny payloads hash to
#: near-degenerate signatures that cluster meaninglessly — the "skip
#: tiny images" rule of production image dedup).
PHASH_MIN_BYTES = 64


def perceptual_hash(media: DataFrame) -> DataFrame:
    """64-bit perceptual hash per payload, as four 16-bit chunks
    ``(ph0..ph3)`` — the aHash/pHash family shape for media near-dup
    (reference has no media surface; this is the LAION-style image-dedup
    stage of the extension scope). The payload bytes stand in for
    decoded pixels (deterministic fake; the engine has no image
    decoder), but the hash math, Arrow plumbing, and the
    downstream bucketed pair search are the real thing.

    Definition (pure INTEGER arithmetic, so DuckDB replays it
    bit-for-bit as a full value oracle — stronger than the
    0-violations property pattern):

    - cell ``j`` of 64 = bytes at positions ``i`` with ``i % 64 == j``
      (0-based): ``s_j`` = their sum, ``n_j`` = their count;
    - ``t`` = total byte sum, ``L`` = payload length;
    - ``bit_j = 1  iff  s_j * L > t * n_j`` (cell mean strictly above
      the payload mean, cross-multiplied — no float division anywhere;
      exact in int64 for any payload under ~1.5 GB since the products
      are bounded by ~4·L²);
    - ``ph_c`` packs bits ``16c .. 16c+15`` little-endian (bit ``j``
      contributes ``2^(j-16c)``), each a 16-bit non-negative int.

    Payloads shorter than :data:`PHASH_MIN_BYTES` are EXCLUDED (see
    its note) — with ``L >= 64`` every cell is non-empty, so the
    engine and the SQL oracle agree on the row set by construction.

    Scale: narrow Arrow ``mapInPandas`` over (doc_id, payload) — one
    numpy bincount per payload, no shuffle, payload dropped on output.
    """
    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, chunks = [], ([], [], [], [])
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                sig = phash_chunks(payload)
                if sig is None:
                    continue  # NULL or sub-minimum payload: unhashable
                ids.append(doc_id)
                for c in range(4):
                    chunks[c].append(sig[c])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "ph0": pd.Series(chunks[0], dtype="int32"),
                    "ph1": pd.Series(chunks[1], dtype="int32"),
                    "ph2": pd.Series(chunks[2], dtype="int32"),
                    "ph3": pd.Series(chunks[3], dtype="int32"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(phash, PHASH_SCHEMA)


def phash_chunks(payload) -> "tuple[int, int, int, int] | None":
    """The perceptual-hash kernel on one payload: the four 16-bit
    chunks of :func:`perceptual_hash`'s signature, or None for a NULL
    or sub-:data:`PHASH_MIN_BYTES` payload (unhashable — the oracle's
    ``text IS NOT NULL AND length >= 64`` row filter in kernel form).
    Module-level so tests can fuzz it directly against an independent
    reference without a Spark round-trip per example."""
    if payload is None:
        return None
    arr = np.frombuffer(bytes(payload), dtype=np.uint8)
    L = arr.size
    if L < PHASH_MIN_BYTES:
        return None
    pos = np.arange(L) % 64
    # float64 weights are exact for integer sums < 2^53
    s = np.bincount(pos, weights=arr, minlength=64).astype(np.int64)
    n = np.bincount(pos, minlength=64).astype(np.int64)
    t = int(s.sum())
    bits = (s * L) > (t * n)
    packed = np.packbits(bits, bitorder="little").astype(np.int64)
    return tuple(int(packed[2 * c] | (packed[2 * c + 1] << 8)) for c in range(4))


def phash_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Media near-dup pairs by perceptual hash: bucket on each of the
    4 x 16-bit chunks (pigeonhole: Hamming <= 3 over 64 bits forces at
    least one chunk to match EXACTLY, so the bucketing is complete, not
    approximate), equi-join per chunk, exact Hamming via
    ``bit_count(xor)`` per chunk pair, then distinct — the
    :func:`~flink_kafka_spark.operators.dedup.simhash_pairs` recipe on
    the media path. ``max_hamming`` must stay <= 3 for the pigeonhole
    guarantee; a larger bound would need more/narrower chunks.

    Scale: candidates are chunk-bucket collisions only (never
    all-pairs); the Hamming filter runs BEFORE the pair-distinct so the
    final shuffle carries true near-dups, not every bucket collision.
    """
    from ..caching import track
    from .dedup import chunked_hamming_pairs

    if max_hamming > 3:  # validate before registering the persist below
        raise ValueError(
            f"max_hamming={max_hamming}: pigeonhole completeness over 4 chunks "
            "of a 64-bit hash holds only for max_hamming <= 3"
        )
    # Both sides of the chunk-bucket self-join consume the signature
    # table; unpersisted, each side re-decodes and re-hashes every
    # PAYLOAD (the dominant cost at 100 TB — real decode is far heavier
    # than this fake). Signatures are 5 ints/doc, so the persist is
    # ~free; released at the next query boundary (caching contract).
    sig = track(perceptual_hash(media).persist())
    return chunked_hamming_pairs(
        sig, "doc_id", ["ph0", "ph1", "ph2", "ph3"], max_hamming
    )


def phash_incremental(
    batch: DataFrame,
    reference: DataFrame,
    max_hamming: int = 3,
    ref_sig: "DataFrame | None" = None,
) -> DataFrame:
    """Incremental media dedup: every hashable batch payload flagged
    novel or near-duplicate of the reference corpus by perceptual
    hash — the media twin of
    :func:`~flink_kafka_spark.operators.dedup.incremental_dedup`
    (dedup tonight's image crawl against the corpus already trained
    on, without re-running all-corpus dedup).

    Output, one row per batch doc with payload >= PHASH_MIN_BYTES
    (shorter/NULL payloads are unhashable — the perceptual_hash
    precondition, NOT a verdict): ``(doc_id, is_novel, n_ref_dups,
    best_ref_id, best_hamming)``; best = lowest Hamming, ties to
    lowest reference id. ``WHERE is_novel = 1`` is the appendable
    batch.

    Scale design (100 TB reference, small-ish batch): pass a STORED
    :func:`perceptual_hash` frame as ``ref_sig`` on the production
    path — the reference is decoded and hashed once per corpus
    version, and each nightly run moves only (chunk, id) buckets of
    the 5-int signatures through the cross join; candidates are
    chunk-bucket collisions BETWEEN the corpora (pigeonhole-complete
    for Hamming <= 3, never all-pairs, never within either side).
    The bucket join carries no broadcast hint: a batch can be as large
    as the corpus (a backfill, the parity-split registered query), so
    AQE picks — a small nightly batch is broadcast at runtime, a
    corpus-sized one degrades to a shuffle instead of dying on the
    broadcast ceiling."""
    from ..caching import track
    from .dedup import chunked_hamming_pairs

    cols = ["ph0", "ph1", "ph2", "ph3"]
    if max_hamming > 3:  # validate BEFORE registering the persist below
        raise ValueError(
            f"max_hamming={max_hamming}: pigeonhole completeness over 4 chunks "
            "of a 64-bit hash holds only for max_hamming <= 3"
        )
    if ref_sig is None:
        ref_sig = perceptual_hash(reference)
    # two consumers (chunk join + verdict base): hash the batch once
    bsig = track(perceptual_hash(batch).persist())
    matches = chunked_hamming_pairs(bsig, "doc_id", cols, max_hamming, other=ref_sig)
    per = matches.groupBy("id_a").agg(
        F.count(F.lit(1)).cast("long").alias("n_ref_dups"),
        F.min("hamming").cast("int").alias("best_hamming"),
        F.min_by(F.col("id_b"), F.struct(F.col("hamming"), F.col("id_b"))).alias(
            "best_ref_id"
        ),
    )
    # per is bounded by the matched batch ids — small for a nightly
    # batch, corpus-sized for a backfill; no hint, AQE picks (the
    # text twin's rollup-join convention)
    return (
        bsig.select(F.col("doc_id").alias("id_a"))
        .join(per, "id_a", "left")
        .select(
            F.col("id_a").alias("doc_id"),
            (F.col("n_ref_dups").isNull()).cast("int").alias("is_novel"),
            F.coalesce(F.col("n_ref_dups"), F.lit(0)).cast("long").alias("n_ref_dups"),
            "best_ref_id",
            "best_hamming",
        )
    )


def wav_duration_ms(payload: bytes) -> "int | None":
    """Duration of a RIFF/WAV payload in milliseconds, read from the
    container header with the STDLIB ``wave`` module — the one real
    (non-fake) media parse that needs no external codec, so it executes
    in every environment including the sandbox test suite. Returns
    ``None`` for payloads that are not parseable WAV (corrupt payloads
    are data, not bugs, at 100 TB scale)."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            fr = w.getframerate()
            if not fr:
                return None
            return int(w.getnframes() * 1000 // fr)
    except (wave.Error, EOFError, OSError):
        return None


def resize_image_batch(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stage stub: validates the pipeline shape (binary in →
    binary out, metadata updated) with a deterministic fake "resize"
    that truncates/pads the payload to width*height bytes."""
    target = width * height

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [
                (bytes(p)[:target]).ljust(target, b"\0") for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "payload": resized,
                    "meta": [
                        {"byte_len": target, "source": m["source"]} for m in pdf["meta"]
                    ],
                }
            )

    return media.mapInPandas(resize, MEDIA_SCHEMA)
