"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata
struct. Decode is REAL for the uncompressed formats a pure-numpy codec
can parse — 24-bit BMP, P6 PPM, 16-bit PCM WAV (``functions/media.py``)
— dispatched by magic bytes; compressed containers (JPEG/PNG/MP3/MP4)
fall through to PIL when available and otherwise raise a documented
NotImplementedError (codec libraries are not in this container).

At 100 TB: payload bytes live in parquet binary columns (or object-store
pointers); mapInPandas streams Arrow batches through the Python worker
with spark.sql.execution.arrow.maxRecordsPerBatch bounding memory, and
the output schema is declared so Catalyst plans downstream ops normally.
"""

from __future__ import annotations

import hashlib
from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openstack_billing_from_db_spark.functions import media
from openstack_billing_from_db_spark.operators.parallelism import ensure_map_parallelism

MEDIA_META = T.StructType(
    [
        T.StructField("mime", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

META_OUT_SCHEMA = "doc_id long, n_bytes long, content_hash string"


def attach_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic fake media payload: the UTF-8 bytes of the text in a
    ``binary`` column plus a typed metadata struct — the exact shape a
    real image/audio table would have."""
    return docs.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "media_meta",
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


def extract_payload_meta(df: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over the binary column: size and
    content hash per payload. This is the real mapInPandas path a decoder
    would use — batch in, batch out, no row-at-a-time serde."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "content_hash": pdf["payload"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, META_OUT_SCHEMA)


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def _decode_one_image(data: bytes) -> tuple[str, int, int, np.ndarray]:
    """Magic-byte dispatch to the pure-numpy codecs; PIL fallback for
    compressed containers when available."""
    if data[:2] == b"BM":
        w, h, px = media.decode_bmp(data)
        return "image/bmp", w, h, px
    if data[:2] == b"P6":
        w, h, px = media.decode_ppm(data)
        return "image/x-portable-pixmap", w, h, px
    if data[: len(media.PNG_MAGIC)] == media.PNG_MAGIC:
        try:
            w, h, px = media.decode_png(data)
            return "image/png", w, h, px
        except ValueError:
            if not _pil_available():
                raise  # a PNG variant outside the built-in codec's scope
    if _pil_available():
        import io

        from PIL import Image

        im = Image.open(io.BytesIO(data)).convert("RGB")
        return (
            "image/" + (im.format or "unknown").lower(),
            im.width,
            im.height,
            np.asarray(im),
        )
    raise NotImplementedError(
        "payload is neither BMP nor PPM (the formats the built-in numpy "
        "codecs cover) and PIL is not installed in this container"
    )


IMAGE_DECODE_SCHEMA = (
    "doc_id long, mime string, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def decode_images(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Decode image payloads to dimensions + per-channel means via an
    Arrow-batched mapInPandas pass. REAL decode for uncompressed BMP/PPM
    (functions/media.py); PIL-gated for compressed formats."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [_decode_one_image(bytes(b)) for b in pdf[payload_col]]
            means = [px.reshape(-1, 3).mean(axis=0) for *_, px in rows]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [r[0] for r in rows],
                    "width": np.array([r[1] for r in rows], np.int32),
                    "height": np.array([r[2] for r in rows], np.int32),
                    "mean_r": [m[0] for m in means],
                    "mean_g": [m[1] for m in means],
                    "mean_b": [m[2] for m in means],
                }
            )

    return df.select("doc_id", payload_col).mapInPandas(batches, IMAGE_DECODE_SCHEMA)


def resize_images(
    df: DataFrame,
    out_h: int,
    out_w: int,
    payload_col: str = "payload",
    fmt: str = "bmp",
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode, batch-at-a-time.
    Output payloads are valid BMP/PPM files of the target size — the full
    thumbnail pipeline, not a metadata projection."""
    enc = media.encode_bmp if fmt == "bmp" else media.encode_ppm

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for b in pdf[payload_col]:
                *_, px = _decode_one_image(bytes(b))
                out.append(enc(media.resize_nearest(px, out_h, out_w)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": out,
                    "width": np.full(len(out), out_w, np.int32),
                    "height": np.full(len(out), out_h, np.int32),
                }
            )

    return df.select("doc_id", payload_col).mapInPandas(
        batches, "doc_id long, payload binary, width int, height int"
    )


AUDIO_DECODE_SCHEMA = (
    "doc_id long, channels int, sample_rate int, duration_ms long, "
    "mean_abs double, peak int"
)


def decode_audio(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """RIFF/WAV → channel count, rate, exact duration, amplitude stats.
    Real stdlib-wave + numpy decode (functions/media.py)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [media.decode_wav(bytes(b)) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "channels": np.array([r[0] for r in rows], np.int32),
                    "sample_rate": np.array([r[1] for r in rows], np.int32),
                    "duration_ms": np.array(
                        [len(r[2]) * 1000 // r[1] for r in rows], np.int64
                    ),
                    "mean_abs": [
                        float(np.abs(r[2].astype(np.int64)).mean()) for r in rows
                    ],
                    "peak": np.array(
                        [int(np.abs(r[2].astype(np.int64)).max()) for r in rows],
                        np.int32,
                    ),
                }
            )

    return df.select("doc_id", payload_col).mapInPandas(batches, AUDIO_DECODE_SCHEMA)


def synthesize_image_payloads(
    docs: DataFrame, id_col: str = "doc_id", fmt: str = "bmp"
) -> DataFrame:
    """Deterministic image corpus: each doc_id gets a real encoded
    BMP/PPM/PNG whose dimensions and color are closed-form functions of
    the id (media.synth_image_pixels) — so decode results are
    SQL-predictable. PNG payloads cycle the scanline filter type with
    doc_id % 5, so a corpus decode exercises every defilter path."""
    if fmt == "png":
        def enc(i: int) -> bytes:  # noqa: E306
            return media.encode_png(
                media.synth_image_pixels(i), filter_type=i % 5
            )
    elif fmt == "bmp":
        def enc(i: int) -> bytes:
            return media.encode_bmp(media.synth_image_pixels(i))
    else:
        def enc(i: int) -> bytes:
            return media.encode_ppm(media.synth_image_pixels(i))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [enc(int(i)) for i in pdf[id_col]],
                }
            )

    return ensure_map_parallelism(docs.select(id_col)).mapInPandas(
        batches, "doc_id long, payload binary"
    )


def synthesize_textured_image_payloads(
    docs: DataFrame, id_col: str = "doc_id", fmt: str = "bmp", *, grid: int = 8
) -> DataFrame:
    """Deterministic TEXTURED image corpus (media.synth_textured_pixels):
    per-family md5 cell textures with a one-cell per-member bump — the
    perceptual-hash dedup fixture. Same payload plumbing as
    synthesize_image_payloads; the pixel content is what differs
    (textured, not solid-color — a solid image dHashes to 0)."""
    if fmt == "bmp":
        def enc(i: int) -> bytes:  # noqa: E306
            return media.encode_bmp(media.synth_textured_pixels(i, grid=grid))
    elif fmt == "png":
        def enc(i: int) -> bytes:
            return media.encode_png(
                media.synth_textured_pixels(i, grid=grid), filter_type=i % 5
            )
    else:
        def enc(i: int) -> bytes:
            return media.encode_ppm(media.synth_textured_pixels(i, grid=grid))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [enc(int(i)) for i in pdf[id_col]],
                }
            )

    return ensure_map_parallelism(docs.select(id_col)).mapInPandas(
        batches, "doc_id long, payload binary"
    )


def _fingerprint_words(
    df: DataFrame, hashes, *, bits: int, word_bits: int, per_frame: bool
) -> DataFrame:
    """The one perceptual-fingerprint body: Arrow-batched mapInPandas
    over the ``payload`` column, where ``hashes(payload bytes)`` returns
    the payload's ``bits``-bit fingerprints (one per image or clip, one
    per sampled frame when ``per_frame``), each split into sign-safe
    ``word_bits``-bit BIGINT words (media.dhash_words: a fingerprint
    that fits one word is its own ``w0``). Output: (doc_id[, frame_idx],
    w0, …); payload bytes never leave the map stage."""
    n_words = len(media.dhash_words(0, bits=bits, word_bits=word_bits))
    wcols = [f"w{i}" for i in range(n_words)]
    keys = ["doc_id", "frame_idx"] if per_frame else ["doc_id"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                (doc_id, j, *media.dhash_words(h, bits=bits, word_bits=word_bits))
                for doc_id, data in zip(pdf["doc_id"], pdf["payload"])
                for j, h in enumerate(hashes(bytes(data)))
            ]
            out = pd.DataFrame(rows, columns=["doc_id", "frame_idx", *wcols])
            yield out[[*keys, *wcols]]

    schema = ", ".join(
        f"{c} {'int' if c == 'frame_idx' else 'long'}" for c in [*keys, *wcols]
    )
    return df.mapInPandas(batches, schema)


def dhash_images(df: DataFrame, *, grid: int = 8, word_bits: int = 56) -> DataFrame:
    """Perceptual difference-hash over encoded image payloads: decode
    (BMP/PPM/PNG — the byte-level codecs in functions/media.py), pool
    channel-sum intensity to a ``grid × grid`` mesh, pack the
    horizontal-neighbor comparisons into ``grid·(grid−1)`` bits
    (media.dhash_pixels) split into ``word_bits``-bit words. The 8×8
    default is one 56-bit word; grid=9 / 36-bit words is the 72-bit
    two-word mesh, grid=12 / 44-bit words the 132-bit three-word one.
    Output: (doc_id, w0, …) — the input of
    dedup.multiword_hamming_pairs."""
    return _fingerprint_words(
        df,
        lambda data: [media.dhash_pixels(_decode_one_image(data)[3], grid=grid)],
        bits=grid * (grid - 1),
        word_bits=word_bits,
        per_frame=False,
    )


def audio_dhash(
    df: DataFrame, *, n_frames: int = media.AUDIO_FRAMES, word_bits: int = 56
) -> DataFrame:
    """Delta-energy audio fingerprints over encoded WAV payloads — the
    audio twin of :func:`dhash_images`: real RIFF parse
    (media.decode_wav), then media.audio_delta_hash's ``n_frames − 1``
    consecutive-frame comparison bits split into ``word_bits``-bit
    words (57 frames: one 56-bit word; WIDE_AUDIO_FRAMES / 36: two
    words; XWIDE_AUDIO_FRAMES / 44: three). Output: (doc_id, w0, …);
    PCM never leaves the decode stage."""
    return _fingerprint_words(
        df,
        lambda data: [
            media.audio_delta_hash(
                media.decode_wav(data)[2].reshape(-1), n_frames=n_frames
            )
        ],
        bits=n_frames - 1,
        word_bits=word_bits,
        per_frame=False,
    )


def video_frame_dhash(
    df: DataFrame, *, n_samples: int = 3, grid: int = 8, word_bits: int = 56
) -> DataFrame:
    """Per-frame perceptual hashes over video payloads: walk the RVID
    index to ``n_samples`` evenly spaced frames (idx_j = ⌊n·j/k⌋ —
    skipped frames never decode, same contract as sample_video_frames),
    BMP-decode only those and dHash each exactly as
    :func:`dhash_images`. Output: one (doc_id, frame_idx, w0, …) row per
    sampled frame — the input of dedup.framewise_multiword_hamming_pairs'
    frame-majority video dedup."""

    def frame_hashes(data: bytes) -> list[int]:
        n = media.video_frame_count(data)
        return [
            media.dhash_pixels(
                media.extract_video_frame(data, n * j // n_samples)[2], grid=grid
            )
            for j in range(n_samples)
        ]

    return _fingerprint_words(
        df,
        frame_hashes,
        bits=grid * (grid - 1),
        word_bits=word_bits,
        per_frame=True,
    )


# The escalation ladder every perceptual entry point walks, narrowest
# first, as (mesh, word_bits): the 56-bit one-word fingerprint, the
# 72-bit 2×36 mesh, then the 132-bit 3×44 mesh, whose widest admissible
# band (22 bits — 44 % 22 == 0, 6 bands > max_hamming 4) gives 2²²
# buckets per band and defers single-join saturation to ~537M docs at
# the default occupancy anchor. Chunk sharding applies at the widest
# level only, pushing the refusal boundary to ~10⁹⁺ docs.
XWIDE_WORD_BITS = 44
XWIDE_IMAGE_GRID = 12  # 12×11 = 132 dHash bits = 3 × 44-bit words
XWIDE_AUDIO_FRAMES = 133  # 132 delta bits = 3 × 44-bit words
_GRID_LADDER = [(8, 56), (9, 36), (XWIDE_IMAGE_GRID, XWIDE_WORD_BITS)]
_AUDIO_LADDER = [
    (media.AUDIO_FRAMES, 56),
    (media.WIDE_AUDIO_FRAMES, 36),
    (XWIDE_AUDIO_FRAMES, XWIDE_WORD_BITS),
]


def _wide_or_chunked_pairs(
    df: DataFrame,
    n_docs: int | None,
    *,
    levels: "list[tuple[int, int, object]]",
    kernel,
    max_hamming: int,
    max_mean_bucket: int,
) -> DataFrame:
    """The one escalation ladder of the perceptual entry points
    (image/audio/video). ``levels`` lists ``(bits, word_bits,
    fingerprint)`` narrowest first, where ``fingerprint(df)`` hashes the
    corpus at that width; ``kernel`` is the banded pairs kernel
    (dedup.multiword_hamming_pairs or its framewise twin). The first
    level whose single-join banding passes
    dedup.tune_hamming_band_bits at the corpus size wins (widening the
    fingerprint multiplies bucket space exponentially and costs only a
    finer map-side mesh — always cheaper than the C(C+1)/2 joins of
    chunk sharding); only when even the WIDEST level saturates is the
    corpus hash-sharded at that level (dedup.tune_hamming_chunks /
    chunked_hamming_pairs). chunked_hamming_pairs owns the one
    fingerprint persist, so the kernel runs with
    ``persist_input=False``. ``n_docs=None`` counts ``df``."""
    from . import dedup

    if n_docs is None:
        n_docs = df.count()
    for bits, word_bits, fingerprint in levels:
        tune = dict(
            bits=bits,
            word_bits=word_bits,
            max_hamming=max_hamming,
            max_mean_bucket=max_mean_bucket,
        )
        try:
            n_chunks, band_bits = 1, dedup.tune_hamming_band_bits(n_docs, **tune)
            break
        except ValueError:
            continue
    else:  # even the widest level saturates one join: shard at it
        n_chunks, band_bits = dedup.tune_hamming_chunks(n_docs, **tune)
    return dedup.chunked_hamming_pairs(
        fingerprint(df),
        lambda subset: kernel(
            subset,
            n_words=-(-bits // word_bits),
            word_bits=word_bits,
            band_bits=band_bits,
            max_hamming=max_hamming,
            persist_input=False,
        ),
        n_chunks=n_chunks,
    )


def phash_near_duplicates(
    df: DataFrame,
    *,
    n_docs: int | None = None,
    max_hamming: int = 4,
    max_mean_bucket: int = 128,
) -> DataFrame:
    """Corpus-size-driven perceptual-hash image dedup (VERDICT r8 Next
    #2): decode → dHash → banded hamming pairs, with the banding WIDTH
    AND the fingerprint WIDTH both chosen from the corpus size via
    dedup.tune_hamming_band_bits instead of a fixed default that
    silently saturates.

    The ladder (:func:`_wide_or_chunked_pairs`): the 8×8 / 56-bit
    one-word dHash (q141's shape, 11-bit bands) up to
    ``max_mean_bucket · 2^11`` docs (262k at the empirically-anchored
    default, see tune_hamming_band_bits); then the 9×9 / 72-bit
    two-word mesh (q142's shape, 12-bit bands, ≲524k docs); then the
    12×12 / 132-bit three-word mesh (q161's shape, 22-bit bands,
    2²² buckets per band: single-join headroom to ~537M docs). Only if
    even that saturates is the corpus hash-sharded
    (dedup.chunked_hamming_pairs at dedup.tune_hamming_chunks' pick):
    C(C+1)/2 memory-bounded wide joins with exact recall — never an
    O(n²/buckets) single join.

    The levels hash different meshes, so pair sets differ at the margin
    (all honor ``max_hamming``; a wider mesh sees more bits of texture)
    — the trade is recall granularity vs bucket space, same contract as
    minhash's tune_banding. ``n_docs`` skips the count scan when the
    caller already knows the cardinality. Output: (doc_a, doc_b,
    hamming)."""
    from . import dedup

    return _wide_or_chunked_pairs(
        df,
        n_docs,
        levels=[
            (g * (g - 1), wb, partial(dhash_images, grid=g, word_bits=wb))
            for g, wb in _GRID_LADDER
        ],
        kernel=dedup.multiword_hamming_pairs,
        max_hamming=max_hamming,
        max_mean_bucket=max_mean_bucket,
    )


def audio_near_duplicates(
    df: DataFrame,
    *,
    n_docs: int | None = None,
    max_hamming: int = 4,
    max_mean_bucket: int = 128,
) -> DataFrame:
    """Corpus-size-driven audio perceptual dedup — the audio member of
    the :func:`phash_near_duplicates` family: RIFF/WAV decode →
    delta-energy fingerprint (media.audio_delta_hash) → banded hamming
    pairs, over the same ladder: 57 frames / 56 bits in one word, then
    73 frames / 72 bits in two 36-bit words, then 133 frames / 132 bits
    in three 44-bit words, chunk-sharded only past the widest level's
    single-join bound. A finer temporal mesh sees more bits, so pair
    sets differ at the margin. ``n_docs`` skips the count scan when the
    caller already knows the cardinality. PCM never leaves the decode
    map stage. Output: (doc_a, doc_b, hamming)."""
    from . import dedup

    return _wide_or_chunked_pairs(
        df,
        n_docs,
        levels=[
            (f - 1, wb, partial(audio_dhash, n_frames=f, word_bits=wb))
            for f, wb in _AUDIO_LADDER
        ],
        kernel=dedup.multiword_hamming_pairs,
        max_hamming=max_hamming,
        max_mean_bucket=max_mean_bucket,
    )


def video_near_duplicates(
    df: DataFrame,
    *,
    n_docs: int | None = None,
    max_hamming: int = 4,
    min_frames: int = 2,
    n_samples: int = 3,
    max_mean_bucket: int = 128,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Corpus-size-driven video perceptual dedup — frame-majority
    matching over per-frame dHashes: the RVID index walk decodes ONLY
    the ``n_samples`` sampled frames (:func:`video_frame_dhash`) and
    dedup.framewise_multiword_hamming_pairs joins banded WITHIN frame
    position (the banding keys include the frame, so bucket occupancy
    is per frame position and the documents-count bound applies per
    frame), keeping pairs that match on ≥ ``min_frames`` positions.
    The per-frame mesh follows the image ladder (56-bit one word,
    72-bit two words, 132-bit three words, chunk-sharded at the widest;
    a doc's frames all chunk with the doc, so the majority stays
    per-join-local). ``max_bucket_size`` passes through the
    degenerate-frame skew cap (constant/black frames; under chunking
    the cap applies per chunk-pair join). Output:
    (doc_a, doc_b, n_frames_matched ≥ min_frames)."""
    from . import dedup

    return _wide_or_chunked_pairs(
        df,
        n_docs,
        levels=[
            (
                g * (g - 1),
                wb,
                partial(video_frame_dhash, n_samples=n_samples, grid=g, word_bits=wb),
            )
            for g, wb in _GRID_LADDER
        ],
        kernel=partial(
            dedup.framewise_multiword_hamming_pairs,
            min_frames=min_frames,
            max_bucket_size=max_bucket_size,
        ),
        max_hamming=max_hamming,
        max_mean_bucket=max_mean_bucket,
    )


def synthesize_family_audio_payloads(
    docs: DataFrame,
    id_col: str = "doc_id",
    synth_col: str | None = None,
    *,
    n_frames: int = media.AUDIO_FRAMES,
) -> DataFrame:
    """Deterministic WAV corpus WITH near-dup family structure
    (media.synth_family_wav_samples — shared ``n_frames``-frame md5
    amplitude profile per doc_id//5 family, one member-specific frame
    bump): the audio-dedup fixture, one real RIFF/WAV payload per doc.

    ``synth_col`` decouples the CONTENT key from the row id: the
    payload is synthesized from ``synth_col``'s value while ``doc_id``
    stays ``id_col`` — this is how the composed corpus recipe gives
    each modality its own duplicate structure (e.g. audio content keyed
    by doc_id // 2 makes consecutive docs exact audio duplicates while
    their images differ)."""
    key = synth_col or id_col

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [
                        media.encode_wav(
                            media.synth_family_wav_samples(
                                int(i), n_frames=n_frames
                            ),
                            media.WAV_SAMPLE_RATE,
                        )
                        for i in pdf[key]
                    ],
                }
            )

    cols = [id_col] if key == id_col else [id_col, key]
    return docs.select(*cols).mapInPandas(
        batches, "doc_id long, payload binary"
    )


def synthesize_audio_payloads(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic WAV corpus (16-bit PCM mono at media.WAV_SAMPLE_RATE);
    sample count and amplitude are closed-form functions of doc_id."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [
                        media.encode_wav(
                            media.synth_wav_samples(int(i)), media.WAV_SAMPLE_RATE
                        )
                        for i in pdf[id_col]
                    ],
                }
            )

    return ensure_map_parallelism(docs.select(id_col)).mapInPandas(
        batches, "doc_id long, payload binary"
    )


def sample_frame_offsets(
    df: DataFrame,
    *,
    duration_col: str = "duration_ms",
    n_frames: int = 4,
) -> DataFrame:
    """Deterministic frame-sampling plan for video payloads: evenly spaced
    sample timestamps from the metadata duration — pure column math (the
    decode of those frames is the stubbed step, not the planning)."""
    idx = F.sequence(F.lit(0), F.lit(n_frames - 1))
    return df.withColumn(
        "frame_offsets_ms",
        F.transform(idx, lambda i: (F.col(duration_col) * i / n_frames).cast("long")),
    )


def synthesize_video_payloads(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per doc: a real RVID container (length-prefixed BMP frames) with
    closed-form frame count/dims/colors (functions/media.synth_video_frames)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [
                media.encode_video(media.synth_video_frames(int(d)))
                for d in pdf[id_col]
            ]
            yield pd.DataFrame({"doc_id": pdf[id_col], "payload": payloads})

    return ensure_map_parallelism(docs.select(id_col)).mapInPandas(
        batches, "doc_id long, payload binary"
    )


VIDEO_FRAME_SCHEMA = (
    "doc_id long, frame_idx long, n_frames long, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def synthesize_family_video_payloads(
    docs: DataFrame,
    id_col: str = "doc_id",
    synth_col: str | None = None,
    *,
    grid: int = 8,
) -> DataFrame:
    """Per doc: a real RVID container of the 3 family-textured frames
    (media.synth_family_video_frames, 2·grid × 2·grid px) — the
    video-dedup fixture. ``synth_col`` decouples the content key from
    the row id exactly as in :func:`synthesize_family_audio_payloads`."""
    key = synth_col or id_col

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [
                        media.encode_video(
                            media.synth_family_video_frames(
                                int(i), grid=grid
                            )
                        )
                        for i in pdf[key]
                    ],
                }
            )

    cols = [id_col] if key == id_col else [id_col, key]
    return docs.select(*cols).mapInPandas(
        batches, "doc_id long, payload binary"
    )


def synthesize_scene_video_payloads(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per doc: a real RVID container of the scene-structured clip
    (media.synth_scene_video_frames — scenes of 3/4/5 frames, or one
    single-scene clip per 4 docs). The scene-cut fixture."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [
                        media.encode_video(
                            media.synth_scene_video_frames(int(i))
                        )
                        for i in pdf[id_col]
                    ],
                }
            )

    return ensure_map_parallelism(docs.select(id_col)).mapInPandas(
        batches, "doc_id long, payload binary"
    )


def synthesize_family_scene_video_payloads(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per doc: a real RVID container of the FAMILY-structured scene
    clip (media.synth_family_scene_video_frames — families share scene
    textures, one member bump cell per frame). The scene-level dedup
    fixture (q163)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [
                        media.encode_video(
                            media.synth_family_scene_video_frames(int(i))
                        )
                        for i in pdf[id_col]
                    ],
                }
            )

    return ensure_map_parallelism(docs.select(id_col)).mapInPandas(
        batches, "doc_id long, payload binary"
    )


def video_frame_cells(
    df: DataFrame,
    payload_col: str = "payload",
    *,
    grid: int = 8,
    frame_stride: int = 1,
) -> DataFrame:
    """Pooled intensity mesh of EVERY frame: decode the RVID container
    once per video, pool each frame's channel-sum onto a grid × grid
    mesh (media.pool_intensity_mesh — the SAME pooling dhash_pixels
    uses: integer block sums when dims divide the grid, the
    deterministic nearest-neighbor resample otherwise), and emit one
    narrow (doc_id, frame_idx, cells array<long>, pool_scale) row per
    frame. ``pool_scale`` is the per-cell unit in summed gray levels
    (3·block_area, or 3 on the resample path) — what lets downstream
    thresholds be resolution-independent. ``frame_stride`` decodes only
    every s-th frame (the RVID index walk skips the rest — for
    hour-long clips where per-frame decode is the budget, cuts are then
    detected at stride granularity). Video bytes never leave the map
    stage; the grid² longs per frame are the only payload downstream
    shuffles see."""
    if frame_stride < 1:
        raise ValueError(f"frame_stride must be >= 1; got {frame_stride}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf[payload_col]):
                data = bytes(data)
                n = media.video_frame_count(data)
                for f in range(0, n, frame_stride):
                    _w, _h, px = media.extract_video_frame(data, f)
                    pooled, scale = media.pool_intensity_mesh(px, grid=grid)
                    rows.append(
                        (
                            int(doc_id),
                            f,
                            [int(v) for v in pooled.ravel()],
                            int(scale),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "cells", "pool_scale"]
            )

    return df.mapInPandas(
        batches,
        "doc_id long, frame_idx int, cells array<long>, pool_scale long",
    )


def video_scene_cuts(
    df: DataFrame,
    payload_col: str = "payload",
    *,
    grid: int = 8,
    cut_threshold: int = 8,
    frame_stride: int = 1,
) -> DataFrame:
    """Scene segmentation over video payloads — the shot-boundary
    operator a multimodal training pipeline runs before per-scene frame
    sampling (one representative frame per scene instead of per-stride
    sampling that splits or misses shots). Mechanics: pooled integer
    intensity mesh per frame (:func:`video_frame_cells`), L1 delta
    between consecutive frames (a lag window per video — exact BIGINT
    arithmetic end-to-end), a cut wherever the MEAN per-cell delta
    exceeds ``cut_threshold`` gray levels (the raw sum is compared
    against threshold · grid² · pool_scale, so the rule is
    resolution-independent — a 256×256 clip and a 16×16 clip cut at
    the same perceptual change, still in exact integers), and scene
    ids as the running cut count. A mid-video resolution change takes
    the larger frame's scale (conservative: never over-cuts from unit
    mismatch alone). ``frame_stride > 1`` decodes only every s-th frame
    (skipped frames never decode — the long-clip budget lever); cuts
    and spans are then in sampled-frame positions. Output: one row per
    (video, scene) with its frame span and the representative (first)
    frame index.

    Scale shape: decode happens ONCE per video in the Arrow map stage
    and the bytes never shuffle; the window and the per-scene aggregate
    see only (doc_id, frame_idx, grid² longs) rows, partitioned by
    video — per-partition state is bounded by frames-per-video, and
    videos are independent (no cross-video anything)."""
    cells = video_frame_cells(
        df, payload_col, grid=grid, frame_stride=frame_stride
    )
    return scene_spans_from_cells(
        cells, grid=grid, cut_threshold=cut_threshold
    )


def scene_spans_from_cells(
    cells: DataFrame, *, grid: int = 8, cut_threshold: int = 8
) -> DataFrame:
    """The windowed half of :func:`video_scene_cuts` over an already-
    materialized (doc_id, frame_idx, cells, pool_scale) frame-mesh
    table — split out so composed operators
    (:func:`scene_representative_dedup`) can decode ONCE and share the
    cells between segmentation and per-frame hashing. Output: one row
    per (doc_id, scene_idx) with frame span and rep (first) frame."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    prev = F.lag("cells").over(w)
    delta = F.aggregate(
        F.zip_with(F.col("cells"), prev, lambda x, y: F.abs(x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scale = F.greatest(F.col("pool_scale"), F.lag("pool_scale").over(w))
    flagged = cells.withColumn(
        "cut",
        F.when(
            prev.isNotNull()
            & (delta > F.lit(int(cut_threshold) * grid * grid) * scale),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    scenes = flagged.withColumn(
        "scene_idx",
        F.sum("cut").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        scenes.groupBy("doc_id", "scene_idx")
        .agg(
            F.min("frame_idx").cast("long").alias("start_frame"),
            F.max("frame_idx").cast("long").alias("end_frame"),
            F.count(F.lit(1)).alias("n_frames"),
        )
        .withColumn("rep_frame", F.col("start_frame"))
    )


def mesh_dhash_column(cells: Column, *, grid: int = 8) -> Column:
    """JVM-side dHash packing over a pooled ``grid × grid`` intensity
    mesh (array<long> of ``grid²`` cells, row-major): one bit per
    horizontal-neighbor comparison, packed exactly like
    media.dhash_pixels — so a mesh computed once (video_frame_cells)
    yields the SAME fingerprint the image decode path would produce,
    with no second decode and no Python in the hot path. Stays inside
    whole-stage codegen (a sum of 56 conditional literals at the
    default grid); grids past 63 bits need the multi-word packing."""
    bits = grid * (grid - 1)
    if bits > 63:
        raise ValueError(
            f"grid={grid} packs {bits} bits — past a single sign-safe "
            "BIGINT; use the multi-word packing"
        )
    out = F.lit(0).cast("long")
    for r in range(grid):
        for u in range(grid - 1):
            k = r * (grid - 1) + u
            out = out + F.when(
                cells[r * grid + u + 1] > cells[r * grid + u],
                F.lit(1 << k).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
    return out


# scene ids stay well under this bound (frame count ≥ scene count), so
# (doc_id, scene_idx) packs losslessly into one BIGINT entity id for
# the shared banded-hamming kernel
SCENE_ENTITY_FACTOR = 1 << 20


def scene_representative_dedup(
    df: DataFrame,
    payload_col: str = "payload",
    *,
    grid: int = 8,
    cut_threshold: int = 8,
    frame_stride: int = 1,
    max_hamming: int = 4,
    band_bits: int | None = None,
    n_entities: int | None = None,
    max_mean_bucket: int = 128,
) -> DataFrame:
    """Scene-level near-duplicate detection — the composition
    scene segmentation exists for (VERDICT r11 Next #6): segment each
    clip into scenes (:func:`video_scene_cuts`' cut rule), take ONE
    representative frame per scene, and run the perceptual-hash banded
    join over scene entities — so a clip that re-uses another clip's
    scene is caught at scene granularity without hashing every frame
    of every video against everything.

    One decode serves both stages: the pooled frame meshes
    (video_frame_cells) are persisted once; segmentation is the shared
    window chain (scene_spans_from_cells) and the rep-frame dHash is
    packed JVM-side from the SAME mesh rows (:func:`mesh_dhash_column`)
    — no second decode, no Python past the map stage. The banded join
    is dedup.simhash_near_duplicates over ``doc_id·2^20 + scene_idx``
    entities at the tuner-derived width (``band_bits=None`` sizes it
    from the scene-entity count via dedup.tune_hamming_band_bits; pass
    ``n_entities`` to skip the count job).

    Output: (doc_a, scene_a, doc_b, scene_b, hamming) — every
    cross-scene pair at hamming ≤ ``max_hamming``, each emitted once.
    Because rep frames ARE frames, the pair set is a SUBSET of what
    per-frame dedup over all frames finds (pytest-pinned) at ~1/L the
    hash-join input."""
    from openstack_billing_from_db_spark.operators import dedup
    from openstack_billing_from_db_spark.operators.caching import (
        tracked_persist,
    )

    cells = tracked_persist(
        video_frame_cells(df, payload_col, grid=grid, frame_stride=frame_stride)
    )
    scenes = scene_spans_from_cells(
        cells, grid=grid, cut_threshold=cut_threshold
    )
    reps = (
        scenes.select(
            "doc_id", "scene_idx", F.col("rep_frame").alias("frame_idx")
        )
        .join(cells.select("doc_id", "frame_idx", "cells"), ["doc_id", "frame_idx"])
        .select(
            "doc_id",
            "scene_idx",
            mesh_dhash_column(F.col("cells"), grid=grid).alias("dhash"),
        )
    )
    if band_bits is None:
        if n_entities is None:
            reps = tracked_persist(reps)
            n_entities = reps.count()
        band_bits = dedup.tune_hamming_band_bits(
            n_entities,
            bits=grid * (grid - 1),
            max_hamming=max_hamming,
            max_mean_bucket=max_mean_bucket,
        )
    entities = reps.select(
        (F.col("doc_id") * SCENE_ENTITY_FACTOR + F.col("scene_idx")).alias(
            "doc_id"
        ),
        F.col("dhash").alias("simhash"),
    )
    pairs = dedup.simhash_near_duplicates(
        entities,
        bits=grid * (grid - 1),
        band_bits=band_bits,
        max_hamming=max_hamming,
    )
    fac = SCENE_ENTITY_FACTOR
    return pairs.select(
        F.expr(f"CAST(doc_a DIV {fac} AS BIGINT)").alias("doc_a"),
        F.expr(f"CAST(doc_a % {fac} AS BIGINT)").alias("scene_a"),
        F.expr(f"CAST(doc_b DIV {fac} AS BIGINT)").alias("doc_b"),
        F.expr(f"CAST(doc_b % {fac} AS BIGINT)").alias("scene_b"),
        "hamming",
    )


def sample_video_frames(
    df: DataFrame, payload_col: str = "payload", n_samples: int = 2
) -> DataFrame:
    """Frame SAMPLING over video payloads: walk the container index to
    ``n_samples`` evenly spaced frames (idx_j = ⌊n_frames·j/n_samples⌋),
    BMP-decode only those, and emit per-frame stats. Skipped frames are
    never decoded — at 100 TB of video that byte-skip IS the operator
    (decode cost ∝ sampled frames, I/O ∝ payload scan). Arrow-batched
    mapInPandas with a declared schema, like every media path here."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf[payload_col]):
                data = bytes(data)
                n = media.video_frame_count(data)
                for j in range(n_samples):
                    idx = n * j // n_samples
                    w, h, px = media.extract_video_frame(data, idx)
                    rows.append(
                        (
                            int(doc_id),
                            idx,
                            n,
                            w,
                            h,
                            float(px[:, :, 0].mean()),
                            float(px[:, :, 1].mean()),
                            float(px[:, :, 2].mean()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "frame_idx",
                    "n_frames",
                    "width",
                    "height",
                    "mean_r",
                    "mean_g",
                    "mean_b",
                ],
            )

    return df.mapInPandas(batches, VIDEO_FRAME_SCHEMA)
