"""Streaming incremental near-dup dedup: documents arrive as files, each
micro-batch is signature-checked against the persisted MinHash index
(operators/dedup.minhash_index — no raw text retained), and only unique
docs' band rows are folded back in.

Every epoch's index additions and verdicts are one epoch of two epoch
logs, kept exactly-once by :func:`streaming.sessions.run_epoch_stream`;
the live index is simply the union of all epochs.

Within-batch duplicate families keep their minimum-id member: a doc is
admitted iff its best match is not a duplicate at all, or is a LATER
member of the same batch (so exactly one canonical survivor per new
family enters the index, and nothing enters when the family's best match
already lives in the index).

At 100 TB: per micro-batch work is (batch signatures) + (band-bucket
join against the index) — the index is ~100 B/doc and grows at the
unique-doc rate; periodic compaction of the epoch partitions
(sources/maintenance.compact_parquet) bounds file counts.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.operators.caching import tracked_persist
from openstack_billing_from_db_spark.operators.dedup import (
    incremental_near_duplicates,
    minhash_index,
)
from openstack_billing_from_db_spark.streaming.sessions import (
    file_stream,
    read_epoch_log,
    run_epoch_stream,
)


def _existing_index(spark: SparkSession, index_dir: str, like: DataFrame) -> DataFrame:
    """The persisted index in ``like``'s columns (the epoch
    partition-discovery column dropped), or an empty one before the
    first epoch has written. Any other read failure — an index in
    another fingerprint layout, a corrupt file — raises: probing an
    empty index would admit every duplicate as fresh."""
    try:
        index = read_epoch_log(spark, index_dir)
        if index is None:
            return spark.createDataFrame([], like.schema)
        return index.select(*like.columns)
    except AnalysisException as e:
        raise RuntimeError(
            f"cannot read the dedup index at {index_dir}: {e}"
        ) from e


def admit_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_dir: str | None,
    *,
    num_hashes: int = 12,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    min_agree: int = 6,
    existing_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Core step shared by the stream and any backfill job: returns
    ``(verdicts, additions)`` for one batch against the stored index.
    ``verdicts`` adds an ``admitted`` flag to the
    incremental_near_duplicates output; ``additions`` are the band rows
    to append. ``existing_index`` supplies the index as a DataFrame
    directly (``index_dir`` then unused) — the hook that lets a
    registered query replay a multi-epoch admission under the driver's
    oracle gate (the admit_video_batch / q153 pattern)."""
    if existing_index is None and index_dir is None:
        raise ValueError(
            "either index_dir or existing_index must be provided"
        )
    # persist the batch's band rows: the shingle+minhash map stage is the
    # expensive upstream here, and new_idx appears FOUR times in the
    # returned DAG (candidate probe, self-union, verdict domain, additions
    # semi-join) — and a later epoch probing ``additions`` as its index
    # embeds this epoch's whole chain again. The multiword/framewise
    # kernels already persist their new side (multiword_hamming_matches /
    # admit_video_batch); this is the same discipline for the text path.
    # Released by the registry wrapper / release_persisted_caches().
    new_idx = tracked_persist(
        minhash_index(
            batch_docs,
            num_hashes=num_hashes,
            rows_per_band=rows_per_band,
            shingle_n=shingle_n,
        )
    )
    existing = (
        existing_index.select(*new_idx.columns)
        if existing_index is not None
        else _existing_index(spark, index_dir, new_idx)
    )
    raw = incremental_near_duplicates(
        existing, new_idx, num_hashes=num_hashes, min_agree=min_agree
    )
    batch_ids = (
        new_idx.select(F.col("doc_id").alias("match_id"))
        .distinct()
        .withColumn("__in_batch", F.lit(True))
    )
    verdicts = raw.join(batch_ids, "match_id", "left").select(
        "new_id",
        "match_id",
        "n_agree",
        "est_jaccard",
        "is_dup",
        (
            (~F.col("is_dup"))
            | (
                F.coalesce("__in_batch", F.lit(False))
                & (F.col("new_id") < F.col("match_id"))
            )
        ).alias("admitted"),
    )
    additions = new_idx.join(
        verdicts.filter("admitted").select(F.col("new_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    return verdicts, additions


def run_streaming_dedup_index(
    spark: SparkSession,
    docs_stream_dir: str,
    index_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    **dedup_kwargs,
) -> None:
    """Stream document files → per-epoch dedup verdicts + index
    additions. Runs to completion on the available files
    (processAllAvailable) and stops; re-running picks up new files from
    the checkpoint."""
    run_epoch_stream(
        file_stream(spark, docs_stream_dir, "doc_id long, text string"),
        _dedup_step(
            spark, admit_batch, "text", index_dir, verdicts_dir, dedup_kwargs
        ),
        checkpoint_dir,
    )


def _dedup_step(
    spark: SparkSession,
    admit_fn,
    content_col: str,
    index_dir: str,
    verdicts_dir: str,
    dedup_kwargs: dict,
):
    """The epoch step of every dedup stream: ``admit_fn`` judges the
    batch's (doc_id, ``content_col``) rows against the index; the epoch
    writes the verdicts, then the index additions. Both are snapshotted
    against the pre-epoch index before either write, because the
    additions DAG reads the very directory its own write lands in."""

    def step(batch_df: DataFrame, epoch_id: int, snapshot) -> dict:
        verdicts, additions = admit_fn(
            spark, batch_df.select("doc_id", content_col), index_dir, **dedup_kwargs
        )
        return {verdicts_dir: snapshot(verdicts), index_dir: snapshot(additions)}

    return step


def read_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live index: union of all epoch partitions."""
    return spark.read.parquet(index_dir)


# --- streaming perceptual (image) dedup (round 9, VERDICT r8 Next #7) ---------


def _admit_fingerprint_batch(
    spark: SparkSession,
    new_fp: DataFrame,
    index_dir: str | None,
    *,
    n_words: int,
    word_bits: int,
    band_bits: int,
    max_hamming: int,
    bits: int | None = None,
    existing_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared admission core for hamming-fingerprint streams (image,
    audio): probe ``new_fp`` — (doc_id, w0..w{n-1}) — against the
    persisted index plus the batch itself, admit a doc iff it has NO
    near-dup in the index and NO lower-id near-dup in its own batch
    (min-id canonical survivor — :func:`admit_batch`'s rule). ``bits``
    is the fingerprint's real width (multiword_hamming_matches skips
    padding-only bands, which would otherwise bucket every doc
    together). ``existing_index`` supplies the index as a DataFrame
    directly (``index_dir`` then unused) — the hook that lets a
    registered query replay a multi-epoch admission through this
    function under the driver's oracle gate (the admit_video_batch /
    q153 pattern)."""
    from openstack_billing_from_db_spark.operators.dedup import (
        multiword_hamming_matches,
    )

    if existing_index is None and index_dir is None:
        # _existing_index reads a missing index as empty (first epoch)
        # — a None dir would silently probe an EMPTY index and admit
        # every duplicate as fresh
        raise ValueError(
            "either index_dir or existing_index must be provided"
        )
    existing = (
        existing_index.select(*new_fp.columns)
        if existing_index is not None
        else _existing_index(spark, index_dir, new_fp)
    )
    matches = multiword_hamming_matches(
        existing,
        new_fp,
        n_words=n_words,
        word_bits=word_bits,
        band_bits=band_bits,
        max_hamming=max_hamming,
        bits=bits,
    )
    blocking = F.when(
        (~F.col("match_in_new")) | (F.col("match_id") < F.col("new_id")),
        1,
    ).otherwise(0)
    per_doc = matches.groupBy(F.col("new_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("hamming").alias("best_hamming"),
        (F.sum(blocking) == 0).alias("admitted"),
    )
    verdicts = (
        new_fp.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "best_hamming",
            F.coalesce("admitted", F.lit(True)).alias("admitted"),
        )
    )
    additions = new_fp.join(
        verdicts.filter("admitted").select("doc_id"), "doc_id", "left_semi"
    )
    return verdicts, additions


def admit_image_batch(
    spark: SparkSession,
    batch_pay: DataFrame,
    index_dir: str | None,
    *,
    grid: int = 9,
    word_bits: int = 36,
    band_bits: int = 12,
    max_hamming: int = 4,
    existing_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One image micro-batch against the persisted fingerprint index:
    decode → multi-word dHash (72-bit wide bands by default — the q142
    scale path), then the shared min-id-canonical admission
    (:func:`_admit_fingerprint_batch`). Returns ``(verdicts,
    additions)``; ``verdicts`` is (doc_id, n_matches, best_hamming,
    admitted), ``additions`` the fingerprint rows to fold into the
    index. The index holds only (doc_id, w0..w{n-1}) BIGINTs — pixels
    never leave the decode map stage, ~24 B/doc state."""
    from openstack_billing_from_db_spark.operators import multimodal

    bits = grid * (grid - 1)
    n_words = -(-bits // word_bits)
    new_fp = multimodal.dhash_images(batch_pay, grid=grid, word_bits=word_bits)
    return _admit_fingerprint_batch(
        spark,
        new_fp,
        index_dir,
        n_words=n_words,
        word_bits=word_bits,
        band_bits=band_bits,
        max_hamming=max_hamming,
        bits=bits,
        existing_index=existing_index,
    )


def admit_audio_batch(
    spark: SparkSession,
    batch_pay: DataFrame,
    index_dir: str | None,
    *,
    band_bits: int | None = None,
    max_hamming: int = 4,
    index_docs: int = 100_000,
    existing_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One audio micro-batch against the persisted fingerprint index:
    RIFF/WAV decode → 56-bit delta-energy hash (q144's fingerprint,
    single sign-safe BIGINT = a 1-word fingerprint for the shared
    multi-word probe), then the same min-id-canonical admission as the
    image/text paths. ``band_bits=None`` derives the width from
    dedup.tune_hamming_band_bits at the ``index_docs`` anchor — the
    SAME derivation the batch path's q144/_AW_BAND_BITS uses (11-bit
    bands at the default anchor; a single-word fingerprint permits
    non-divisor widths, see dedup._multiword_band_layout), so the
    certified and default configs coincide (ADVICE r11). Index state:
    (doc_id, w0) ≈ 16 B/clip; PCM never leaves the decode map stage."""
    from openstack_billing_from_db_spark.operators import multimodal
    from openstack_billing_from_db_spark.operators.dedup import (
        tune_hamming_band_bits,
    )

    if band_bits is None:
        band_bits = tune_hamming_band_bits(
            index_docs, bits=56, max_hamming=max_hamming
        )
    new_fp = multimodal.audio_dhash(batch_pay)
    return _admit_fingerprint_batch(
        spark,
        new_fp,
        index_dir,
        n_words=1,
        word_bits=56,
        band_bits=band_bits,
        max_hamming=max_hamming,
        bits=56,
        existing_index=existing_index,
    )


def admit_video_batch(
    spark: SparkSession,
    batch_pay: DataFrame,
    index_dir: str | None,
    *,
    n_samples: int = 3,
    grid: int = 8,
    band_bits: int = 11,
    max_hamming: int = 4,
    min_frames: int = 2,
    max_bucket_size: int | None = None,
    existing_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One video micro-batch against the persisted PER-FRAME fingerprint
    index: RVID index walk decodes only the ``n_samples`` sampled frames
    (skipped frames never decode — q145's scale property), each frame
    gets a dHash, and :func:`dedup.framewise_hamming_matches` probes the
    index plus the batch itself with the frame-majority gate (a match
    needs ≥ ``min_frames`` of the sampled positions at hamming ≤
    ``max_hamming``). Admission is the shared min-id-canonical rule: a
    clip enters iff it has NO majority-match in the index and NO
    lower-id majority-match in its own batch. Index state:
    (doc_id, frame_idx, w0) ≈ 24 B/frame-row — the one-word per-frame
    fingerprint of :func:`multimodal.video_frame_dhash`; video bytes
    never leave the decode map stage. Returns ``(verdicts, additions)``;
    ``verdicts`` is (doc_id, n_matches, best_frames_matched, admitted),
    ``additions`` the per-frame fingerprint rows to fold in.

    ``existing_index`` supplies the index as a DataFrame directly
    (``index_dir`` is then unused) — the hook that lets a registered
    query (q153) replay a multi-epoch admission through THIS function
    under the driver's oracle gate instead of a filesystem stream."""
    from openstack_billing_from_db_spark.operators import multimodal
    from openstack_billing_from_db_spark.operators.dedup import (
        framewise_hamming_matches,
    )

    if existing_index is None and index_dir is None:
        raise ValueError(
            "either index_dir or existing_index must be provided"
        )
    bits = grid * (grid - 1)
    # one word per frame (framewise_hamming_matches' layout); the probe
    # persists new_fp, and the verdicts and additions below read that
    # cache, so the RVID decode runs once
    new_fp = multimodal.video_frame_dhash(
        batch_pay, n_samples=n_samples, grid=grid, word_bits=bits
    )
    existing = (
        existing_index.select(*new_fp.columns)
        if existing_index is not None
        else _existing_index(spark, index_dir, new_fp)
    )
    matches = framewise_hamming_matches(
        existing,
        new_fp,
        bits=bits,
        band_bits=band_bits,
        max_hamming=max_hamming,
        min_frames=min_frames,
        max_bucket_size=max_bucket_size,
    )
    blocking = F.when(
        (~F.col("match_in_new")) | (F.col("match_id") < F.col("new_id")),
        1,
    ).otherwise(0)
    per_doc = matches.groupBy(F.col("new_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("n_frames_matched").alias("best_frames_matched"),
        (F.sum(blocking) == 0).alias("admitted"),
    )
    verdicts = (
        new_fp.select("doc_id")
        .distinct()
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "best_frames_matched",
            F.coalesce("admitted", F.lit(True)).alias("admitted"),
        )
    )
    additions = new_fp.join(
        verdicts.filter("admitted").select("doc_id"), "doc_id", "left_semi"
    )
    return verdicts, additions


def run_streaming_image_dedup(
    spark: SparkSession,
    images_stream_dir: str,
    index_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    **dedup_kwargs,
) -> None:
    """Image-payload stream → perceptual-dedup verdicts + wide-band
    fingerprint index (see :func:`admit_image_batch`)."""
    run_epoch_stream(
        file_stream(spark, images_stream_dir, "doc_id long, payload binary"),
        _dedup_step(
            spark, admit_image_batch, "payload", index_dir, verdicts_dir, dedup_kwargs
        ),
        checkpoint_dir,
    )


def run_streaming_audio_dedup(
    spark: SparkSession,
    audio_stream_dir: str,
    index_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    **dedup_kwargs,
) -> None:
    """Audio-payload stream → delta-energy-fingerprint dedup verdicts +
    index (see :func:`admit_audio_batch`) — the q144 fingerprint under
    the q94 streaming contract."""
    run_epoch_stream(
        file_stream(spark, audio_stream_dir, "doc_id long, payload binary"),
        _dedup_step(
            spark, admit_audio_batch, "payload", index_dir, verdicts_dir, dedup_kwargs
        ),
        checkpoint_dir,
    )


def run_streaming_video_dedup(
    spark: SparkSession,
    video_stream_dir: str,
    index_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    **dedup_kwargs,
) -> None:
    """Video-payload stream → frame-majority perceptual-dedup verdicts
    + per-frame fingerprint index (see :func:`admit_video_batch`) —
    q145's kernel under the q94 streaming contract, completing the
    text/image/audio/video streaming-admission set."""
    run_epoch_stream(
        file_stream(spark, video_stream_dir, "doc_id long, payload binary"),
        _dedup_step(
            spark, admit_video_batch, "payload", index_dir, verdicts_dir, dedup_kwargs
        ),
        checkpoint_dir,
    )
