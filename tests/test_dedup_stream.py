"""Streaming incremental dedup (streaming/dedup_stream.py): batches of
document files judged against the growing persisted signature index;
only canonical survivors enter it."""

from __future__ import annotations

from pyspark.sql import functions as F

from openstack_billing_from_db_spark.streaming.dedup_stream import (
    admit_batch,
    read_index,
    run_streaming_dedup_index,
)

D1 = "the quick brown fox jumps over the lazy dog today"
D2 = "completely different words about spark shuffles and joins"
D3 = "an entirely fresh document with novel words in it"


def _write_docs(spark, path, rows):
    # one parquet FILE per batch (the stream source ignores
    # non-partition subdirectories)
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        path,
    )


def test_admit_batch_bootstrap_and_within_batch_family(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    batch = spark.createDataFrame(
        [(1, D1), (2, D2), (3, D2)],  # 2 & 3 are twins
        "doc_id long, text string",
    )
    verdicts, additions = admit_batch(spark, batch, index_dir)
    v = {r.new_id: r for r in verdicts.collect()}
    # min-id twin is the canonical survivor; the other is a dup of it
    assert v[2].admitted and v[2].is_dup and v[2].match_id == 3
    assert not v[3].admitted and v[3].is_dup and v[3].match_id == 2
    assert v[1].admitted and not v[1].is_dup
    admitted_ids = {r.doc_id for r in additions.select("doc_id").distinct().collect()}
    assert admitted_ids == {1, 2}


def test_streaming_dedup_index_grows_by_uniques_only(spark, tmp_path):
    docs_dir = str(tmp_path / "docs_stream")
    index_dir = str(tmp_path / "idx")
    verdicts_dir = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")

    # batch 1 arrives, is processed, THEN batch 2 lands (two stream runs
    # sharing the checkpoint — the daily-ingest rhythm)
    _write_docs(spark, f"{docs_dir}/b1.parquet", [(1, D1), (2, D2)])
    run_streaming_dedup_index(spark, docs_dir, index_dir, verdicts_dir, ckpt)
    assert {
        r.doc_id for r in read_index(spark, index_dir).select("doc_id").distinct().collect()
    } == {1, 2}

    _write_docs(spark, f"{docs_dir}/b2.parquet", [(10, D1), (11, D3)])
    run_streaming_dedup_index(spark, docs_dir, index_dir, verdicts_dir, ckpt)

    # 10 is a copy of the indexed doc 1 -> rejected; 11 unique -> admitted
    idx_ids = {
        r.doc_id for r in read_index(spark, index_dir).select("doc_id").distinct().collect()
    }
    assert idx_ids == {1, 2, 11}

    verdicts = spark.read.parquet(verdicts_dir)
    v10 = verdicts.filter("new_id = 10").collect()[0]
    assert v10.is_dup and v10.match_id == 1 and not v10.admitted
    # epoch partitioning present (idempotent overwrite layout)
    assert verdicts.select("epoch").distinct().count() >= 2


def _write_images(spark, path, doc_ids):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from openstack_billing_from_db_spark.functions import media

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(doc_ids), pa.int64()),
                "payload": pa.array(
                    [
                        media.encode_bmp(
                            media.synth_textured_pixels(i, grid=9)
                        )
                        for i in doc_ids
                    ],
                    pa.binary(),
                ),
            }
        ),
        path,
    )


def test_admit_image_batch_bootstrap_and_within_batch_family(spark, tmp_path):
    """Image counterpart of admit_batch: min-id member of a perceptual
    near-dup family is the canonical survivor, cross-family uniques
    admitted, only survivors' fingerprints become index additions."""
    from openstack_billing_from_db_spark.streaming.dedup_stream import (
        admit_image_batch,
    )

    pay = spark.createDataFrame(
        [(i,) for i in (0, 1, 10)], "doc_id long"
    )
    from openstack_billing_from_db_spark.operators import multimodal

    batch = multimodal.synthesize_textured_image_payloads(pay, grid=9)
    verdicts, additions = admit_image_batch(
        spark, batch, str(tmp_path / "iidx")
    )
    v = {r.doc_id: r for r in verdicts.collect()}
    # 0 and 1 are family 0 near-dups: 0 survives, 1 blocked by 0
    assert v[0].admitted and v[0].n_matches >= 1
    assert not v[1].admitted and v[1].best_hamming <= 4
    assert v[10].admitted and v[10].n_matches == 0
    assert {
        r.doc_id for r in additions.select("doc_id").distinct().collect()
    } == {0, 10}


def test_streaming_image_dedup_index_grows_by_uniques_only(spark, tmp_path):
    """Multi-batch pin (VERDICT r8 Next #7): an image whose perceptual
    family is already INDEXED is rejected on a later epoch; a fresh
    family is admitted with its min-id canonical; epoch partitions give
    idempotent verdicts — the q94 contract on the q142 wide-band
    fingerprints."""
    from openstack_billing_from_db_spark.streaming.dedup_stream import (
        read_index,
        run_streaming_image_dedup,
    )

    imgs_dir = str(tmp_path / "imgs_stream")
    index_dir = str(tmp_path / "iidx")
    verdicts_dir = str(tmp_path / "iverdicts")
    ckpt = str(tmp_path / "ickpt")

    _write_images(spark, f"{imgs_dir}/b1.parquet", [0, 5])
    run_streaming_image_dedup(spark, imgs_dir, index_dir, verdicts_dir, ckpt)
    assert {
        r.doc_id
        for r in read_index(spark, index_dir).select("doc_id").distinct().collect()
    } == {0, 5}

    # 1 is family 0 (indexed via doc 0) -> rejected; 10/11/12 are a NEW
    # family -> min-id 10 admitted, 11/12 rejected within-batch
    _write_images(spark, f"{imgs_dir}/b2.parquet", [1, 10, 11, 12])
    run_streaming_image_dedup(spark, imgs_dir, index_dir, verdicts_dir, ckpt)
    idx_ids = {
        r.doc_id
        for r in read_index(spark, index_dir).select("doc_id").distinct().collect()
    }
    assert idx_ids == {0, 5, 10}

    verdicts = spark.read.parquet(verdicts_dir)
    v = {r.doc_id: r for r in verdicts.collect()}
    assert not v[1].admitted and v[1].best_hamming <= 4
    assert v[10].admitted and v[10].n_matches >= 2  # sees 11 and 12
    assert not v[11].admitted and not v[12].admitted
    assert verdicts.select("epoch").distinct().count() >= 2


def test_streaming_audio_dedup_index_grows_by_uniques_only(spark, tmp_path):
    """Audio counterpart of the image stream test: an indexed
    delta-energy family rejected on a later epoch, a fresh family
    admitted via its min-id member, single-word (w0) index state."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from openstack_billing_from_db_spark.functions import media
    from openstack_billing_from_db_spark.streaming.dedup_stream import (
        read_index,
        run_streaming_audio_dedup,
    )

    def write_clips(path, doc_ids):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(list(doc_ids), pa.int64()),
                    "payload": pa.array(
                        [
                            media.encode_wav(
                                media.synth_family_wav_samples(i),
                                media.WAV_SAMPLE_RATE,
                            )
                            for i in doc_ids
                        ],
                        pa.binary(),
                    ),
                }
            ),
            path,
        )

    clips_dir = str(tmp_path / "clips_stream")
    index_dir = str(tmp_path / "aidx")
    verdicts_dir = str(tmp_path / "averdicts")
    ckpt = str(tmp_path / "ackpt")

    write_clips(f"{clips_dir}/b1.parquet", [0, 5])
    run_streaming_audio_dedup(spark, clips_dir, index_dir, verdicts_dir, ckpt)
    assert {
        r.doc_id
        for r in read_index(spark, index_dir).select("doc_id").distinct().collect()
    } == {0, 5}

    write_clips(f"{clips_dir}/b2.parquet", [1, 10, 11])
    run_streaming_audio_dedup(spark, clips_dir, index_dir, verdicts_dir, ckpt)
    idx = read_index(spark, index_dir)
    assert {
        r.doc_id for r in idx.select("doc_id").distinct().collect()
    } == {0, 5, 10}
    assert set(idx.columns) >= {"doc_id", "w0"}

    v = {r.doc_id: r for r in spark.read.parquet(verdicts_dir).collect()}
    assert not v[1].admitted and v[1].best_hamming <= 4  # family 0 indexed
    assert v[10].admitted and not v[11].admitted  # new family, min-id canon


def test_streaming_video_dedup_frame_majority_admission(spark, tmp_path):
    """Video counterpart (VERDICT r9 Next #4): an indexed family is
    rejected on a later epoch via the frame-majority gate, a fresh
    family admits its min-id member only, and the doubly-distorted
    fixture pair (vars 3/4 — one shared clean frame) is NOT treated as
    a duplicate, pinning that the ≥2-of-3 majority rule (not any single
    frame hit) is what blocks admission."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from openstack_billing_from_db_spark.functions import media
    from openstack_billing_from_db_spark.streaming.dedup_stream import (
        read_index,
        run_streaming_video_dedup,
    )

    def write_clips(path, doc_ids):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(list(doc_ids), pa.int64()),
                    "payload": pa.array(
                        [
                            media.encode_video(
                                media.synth_family_video_frames(i)
                            )
                            for i in doc_ids
                        ],
                        pa.binary(),
                    ),
                }
            ),
            path,
        )

    vids_dir = str(tmp_path / "vids_stream")
    index_dir = str(tmp_path / "vidx")
    verdicts_dir = str(tmp_path / "vverdicts")
    ckpt = str(tmp_path / "vckpt")

    write_clips(f"{vids_dir}/b1.parquet", [0, 5])  # families 0 and 1
    run_streaming_video_dedup(spark, vids_dir, index_dir, verdicts_dir, ckpt)
    assert {
        r.doc_id
        for r in read_index(spark, index_dir)
        .select("doc_id")
        .distinct()
        .collect()
    } == {0, 5}
    # per-frame index rows: 3 sampled frames per admitted clip
    assert read_index(spark, index_dir).count() == 6

    # 1 is family 0 (indexed via doc 0, 3/3 frames) -> rejected;
    # 10/11/12 are a NEW family -> min-id 10 admitted, 11/12 rejected
    # within-batch; 18/19 are family 3's vars 3/4 — they share only ONE
    # clean frame with each other, so NEITHER blocks the other, but
    # both match doc 15's... doc 15 is NOT indexed, so both pass the
    # index check and the (18,19) pair fails the majority gate -> BOTH
    # admitted (the majority-rule pin).
    write_clips(f"{vids_dir}/b2.parquet", [1, 10, 11, 12, 18, 19])
    run_streaming_video_dedup(spark, vids_dir, index_dir, verdicts_dir, ckpt)
    idx_ids = {
        r.doc_id
        for r in read_index(spark, index_dir)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert idx_ids == {0, 5, 10, 18, 19}

    verdicts = spark.read.parquet(verdicts_dir)
    v = {r.doc_id: r for r in verdicts.collect()}
    assert not v[1].admitted and v[1].best_frames_matched >= 2
    assert v[10].admitted and v[10].n_matches >= 2  # sees 11 and 12
    assert not v[11].admitted and not v[12].admitted
    assert v[18].admitted and v[19].admitted  # 1 shared frame < 2
    assert verdicts.select("epoch").distinct().count() >= 2

    # epoch replay idempotency: verdicts live in epoch partitions
    assert (
        verdicts.filter(F.col("doc_id") == 10)
        .select("epoch")
        .distinct()
        .count()
        == 1
    )


def test_epoch_snapshot_releases_blocks(spark):
    """_epoch_snapshot truncates lineage (the snapshot-integrity half)
    AND releases the checkpoint's cached blocks deterministically —
    in a long-running stream GC-based cleanup lets storage grow with
    epoch count (self-review round 10)."""
    from openstack_billing_from_db_spark.streaming.sessions import (
        _epoch_snapshot,
    )

    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()
    df = spark.range(100).withColumnRenamed("id", "doc_id")
    cp, release = _epoch_snapshot(spark, df)
    assert jsc.getPersistentRDDs().size() > baseline  # blocks held
    assert cp.count() == 100  # readable while held
    release()
    assert jsc.getPersistentRDDs().size() == baseline  # freed now
    release()  # idempotent


def test_admit_image_batch_existing_index_hook(spark):
    """The in-memory existing_index hook on the image path: a two-epoch
    replay where epoch 2 is blocked by epoch 1's admitted fingerprints
    without any filesystem index; None/None raises instead of silently
    probing an empty index."""
    import pytest

    from openstack_billing_from_db_spark.operators import multimodal
    from openstack_billing_from_db_spark.streaming.dedup_stream import (
        admit_image_batch,
    )

    def pay(ids):
        return multimodal.synthesize_textured_image_payloads(
            spark.createDataFrame([(i,) for i in ids], "doc_id long"),
            grid=9,
        )

    empty = spark.createDataFrame(
        [], "doc_id long, w0 long, w1 long"
    )
    v1, add1 = admit_image_batch(spark, pay([0, 10]), None, existing_index=empty)
    assert {r.doc_id: r.admitted for r in v1.collect()} == {0: True, 10: True}
    # epoch 2: doc 1 is family-0's near-dup -> blocked by the INDEX copy
    v2, _ = admit_image_batch(spark, pay([1]), None, existing_index=add1)
    r = v2.collect()[0]
    assert not r.admitted and r.best_hamming <= 4

    with pytest.raises(ValueError, match="either index_dir or existing_index"):
        admit_image_batch(spark, pay([0]), None)


def test_unreadable_index_refuses_instead_of_reading_empty(spark, tmp_path):
    """An index directory that exists but cannot be read in the
    producer's layout — here a one-word (doc_id, w0) index probed by the
    two-word image stream — raises with the index path: reading it as
    empty would admit every duplicate as fresh. A directory that does
    not exist yet is still the first epoch's empty index."""
    import pytest

    from openstack_billing_from_db_spark.operators import multimodal
    from openstack_billing_from_db_spark.streaming.dedup_stream import (
        admit_image_batch,
    )

    pay = multimodal.synthesize_textured_image_payloads(
        spark.createDataFrame([(0,), (1,)], "doc_id long"), grid=9
    )
    fresh, _ = admit_image_batch(spark, pay, str(tmp_path / "absent"))
    assert {r.doc_id: r.admitted for r in fresh.collect()} == {
        0: True,
        1: False,
    }

    index_dir = str(tmp_path / "one_word_idx")
    spark.createDataFrame([(0, 5)], "doc_id long, w0 long").write.parquet(
        index_dir
    )
    with pytest.raises(RuntimeError, match="one_word_idx"):
        admit_image_batch(spark, pay, index_dir)
