"""Byte-level codec tests (functions/media.py) and the Spark decode
operators built on them (operators/multimodal.py). No Spark needed for
the codec half — they are pure numpy parsers."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions import media
from openstack_billing_from_db_spark.operators import multimodal


def _gradient(h: int, w: int) -> np.ndarray:
    """Non-uniform fixture: every pixel distinct, catches row-order and
    channel-order bugs a solid fill can't."""
    r = np.arange(h * w, dtype=np.uint8).reshape(h, w)
    return np.stack([r, r[::-1], (r * 7) % 256], axis=-1).astype(np.uint8)


# --- BMP ---------------------------------------------------------------------


@pytest.mark.parametrize("w", [1, 2, 3, 4, 5, 8, 13])  # all stride paddings
def test_bmp_round_trip_all_paddings(w):
    px = _gradient(5, w)
    got_w, got_h, got = media.decode_bmp(media.encode_bmp(px))
    assert (got_w, got_h) == (w, 5)
    np.testing.assert_array_equal(got, px)


def test_bmp_rejects_non_bmp():
    with pytest.raises(ValueError, match="not a BMP"):
        media.decode_bmp(b"GIF89a...")


def test_bmp_header_fields():
    data = media.encode_bmp(_gradient(4, 6))
    assert data[:2] == b"BM"
    assert int.from_bytes(data[2:6], "little") == len(data)  # declared size


# --- PPM ---------------------------------------------------------------------


def test_ppm_round_trip():
    px = _gradient(7, 3)
    got_w, got_h, got = media.decode_ppm(media.encode_ppm(px))
    assert (got_w, got_h) == (3, 7)
    np.testing.assert_array_equal(got, px)


def test_ppm_decodes_comments_and_whitespace():
    px = _gradient(2, 2)
    raw = b"P6 # a comment\n# another\n 2\t2 \n255\n" + px.tobytes()
    got_w, got_h, got = media.decode_ppm(raw)
    assert (got_w, got_h) == (2, 2)
    np.testing.assert_array_equal(got, px)


# --- WAV ---------------------------------------------------------------------


def test_wav_round_trip_mono_and_stereo():
    mono = (np.arange(100, dtype=np.int16) * 31) % 20000 - 10000
    ch, rate, frames = media.decode_wav(media.encode_wav(mono.astype(np.int16), 8000))
    assert (ch, rate) == (1, 8000)
    np.testing.assert_array_equal(frames[:, 0], mono)

    stereo = np.stack([mono, -mono], axis=1).astype(np.int16)
    ch, rate, frames = media.decode_wav(
        media.encode_wav(stereo, 44100, channels=2)
    )
    assert (ch, rate, frames.shape) == (2, 44100, (100, 2))
    np.testing.assert_array_equal(frames, stereo)


# --- resize ------------------------------------------------------------------


def test_resize_nearest_identity_and_downsample():
    px = _gradient(8, 8)
    np.testing.assert_array_equal(media.resize_nearest(px, 8, 8), px)
    half = media.resize_nearest(px, 4, 4)
    # center-aligned nearest: output (i,j) = source (2i+1, 2j+1)
    np.testing.assert_array_equal(half, px[1::2, 1::2])


def test_resize_upsample_replicates():
    px = _gradient(2, 2)
    up = media.resize_nearest(px, 4, 4)
    np.testing.assert_array_equal(up[:2, :2], np.full((2, 2, 3), px[0, 0]))


# --- Spark operators ---------------------------------------------------------


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


@pytest.mark.parametrize(
    "fmt,mime",
    [("bmp", "image/bmp"), ("ppm", "image/x-portable-pixmap"), ("png", "image/png")],
)
def test_decode_images_round_trip(spark, fmt, mime):
    ids = [0, 5, 17, 123, 100_000_123]
    rows = {
        r["doc_id"]: r
        for r in multimodal.decode_images(
            multimodal.synthesize_image_payloads(_ids(spark, ids), fmt=fmt)
        ).collect()
    }
    for i in ids:
        r = rows[i]
        assert r["mime"] == mime
        assert (r["width"], r["height"]) == (8 + i % 9, 4 + i % 5)
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (
            i % 256,
            (i // 3) % 256,
            (i // 7) % 256,
        )


def test_decode_audio_round_trip(spark):
    ids = [0, 7, 999, 1001]
    rows = {
        r["doc_id"]: r
        for r in multimodal.decode_audio(
            multimodal.synthesize_audio_payloads(_ids(spark, ids))
        ).collect()
    }
    for i in ids:
        r = rows[i]
        amp = (i % 1000) * 16
        assert (r["channels"], r["sample_rate"]) == (1, media.WAV_SAMPLE_RATE)
        assert r["duration_ms"] == 100 + i % 32
        assert r["mean_abs"] == float(amp) and r["peak"] == amp


def test_resize_images_produces_valid_thumbnails(spark):
    out = {
        r["doc_id"]: r
        for r in multimodal.resize_images(
            multimodal.synthesize_image_payloads(_ids(spark, [3, 44])), 2, 3
        ).collect()
    }
    for i in (3, 44):
        w, h, px = media.decode_bmp(bytes(out[i]["payload"]))
        assert (w, h) == (3, 2)
        # solid-color source → every thumbnail pixel keeps the color
        assert (px == (i % 256, (i // 3) % 256, (i // 7) % 256)).all()


def test_decode_images_unknown_format_raises(spark):
    df = _ids(spark, [1]).selectExpr(
        "doc_id", "encode('definitely not an image', 'UTF-8') AS payload"
    )
    if multimodal._pil_available():
        pytest.skip("PIL present: fallback would engage")
    with pytest.raises(Exception, match="neither BMP nor PPM"):
        multimodal.decode_images(df).collect()


# --- property-based round-trips (hypothesis) ---------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_ppm_round_trip_random(h, w, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    for enc, dec in ((media.encode_bmp, media.decode_bmp), (media.encode_ppm, media.decode_ppm)):
        got_w, got_h, got = dec(enc(px))
        assert (got_w, got_h) == (w, h)
        np.testing.assert_array_equal(got, px)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    filter_type=st.integers(0, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_round_trip_random(h, w, filter_type, seed):
    """encode→decode identity for every scanline filter type, including
    the sequential Average/Paeth defilter paths."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    got_w, got_h, got = media.decode_png(media.encode_png(px, filter_type=filter_type))
    assert (got_w, got_h) == (w, h)
    np.testing.assert_array_equal(got, px)


def test_png_rejects_unsupported_variants():
    with pytest.raises(ValueError, match="not a PNG"):
        media.decode_png(b"GIF89a......")
    # grayscale (color type 0) header: outside the built-in codec scope
    import struct as _struct
    import zlib as _zlib

    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bogus = (
        media.PNG_MAGIC
        + len(ihdr).to_bytes(4, "big") + b"IHDR" + ihdr
        + _zlib.crc32(b"IHDR" + ihdr).to_bytes(4, "big")
        + (0).to_bytes(4, "big") + b"IDAT" + _zlib.crc32(b"IDAT").to_bytes(4, "big")
    )
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        media.decode_png(bogus + (0).to_bytes(4, "big") + b"IEND" + _zlib.crc32(b"IEND").to_bytes(4, "big"))


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 500),
    channels=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_round_trip_random(n, channels, rate, seed):
    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=(n, channels), dtype=np.int16)
    got_ch, got_rate, frames = media.decode_wav(
        media.encode_wav(samples, rate, channels=channels)
    )
    assert (got_ch, got_rate) == (channels, rate)
    np.testing.assert_array_equal(frames, samples)


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 10),
    w=st.integers(1, 10),
    oh=st.integers(1, 10),
    ow=st.integers(1, 10),
    seed=st.integers(0, 2**31 - 1),
)
def test_resize_output_pixels_come_from_source(h, w, oh, ow, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = media.resize_nearest(px, oh, ow)
    assert out.shape == (oh, ow, 3)
    src = {tuple(p) for p in px.reshape(-1, 3)}
    assert {tuple(p) for p in out.reshape(-1, 3)} <= src


@settings(max_examples=25, deadline=None)
@given(
    n_frames=st.integers(1, 6),
    h=st.integers(1, 8),
    w=st.integers(1, 8),
    seed=st.integers(0, 2**31 - 1),
)
def test_video_container_round_trip_random(n_frames, h, w, seed):
    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8) for _ in range(n_frames)
    ]
    blob = media.encode_video(frames)
    assert media.video_frame_count(blob) == n_frames
    for i, f in enumerate(frames):
        gw, gh, px = media.extract_video_frame(blob, i)
        assert (gw, gh) == (w, h)
        np.testing.assert_array_equal(px, f)


def test_video_frame_extraction_bounds():
    blob = media.encode_video(media.synth_video_frames(3))
    n = media.video_frame_count(blob)
    with pytest.raises(IndexError):
        media.extract_video_frame(blob, n)
    with pytest.raises(ValueError):
        media.video_frame_count(b"XXXX\x00\x00\x00\x00")


def test_sample_video_frames_spark(spark):
    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    out = multimodal.sample_video_frames(
        multimodal.synthesize_video_payloads(docs)
    ).collect()
    assert len(out) == 40  # 2 sampled frames per doc
    for r in out:
        assert r.n_frames == 2 + r.doc_id % 4
        assert r.frame_idx == r.n_frames * (0 if r.frame_idx == 0 else 1) // 2
        assert r.width == 4 + r.doc_id % 3
        assert r.mean_r == (r.doc_id + 11 * r.frame_idx) % 256


# --- perceptual dHash (round 8) ----------------------------------------------


def test_dhash_closed_form_replay():
    """dhash_pixels over the textured fixture equals a direct cell-level
    replay of the closed form (the q141 oracle's arithmetic)."""
    for doc_id in [0, 1, 4, 5, 37, 123, 499, 12345]:
        fam, var = doc_id // 5, doc_id % 5
        expect = 0
        import hashlib

        def _cell(u, r):
            v = int(
                hashlib.md5(f"cell|{fam}:{u}:{r}".encode()).hexdigest()[:15], 16
            ) % 256
            return (v + (128 if (u == var and r == var) else 0)) % 256

        cells = [[_cell(u, r) for u in range(8)] for r in range(8)]
        for r in range(8):
            for u in range(7):
                if cells[r][u + 1] > cells[r][u]:
                    expect |= 1 << (r * 7 + u)
        got = media.dhash_pixels(media.synth_textured_pixels(doc_id))
        assert got == expect, doc_id
        assert 0 <= got < 1 << 56  # sign-safe packing


@given(st.integers(min_value=0, max_value=10_000), st.sampled_from(["bmp", "ppm", "png"]))
@settings(max_examples=25, deadline=None)
def test_dhash_encode_decode_roundtrip_all_codecs(doc_id, fmt):
    """The hash is a pure function of pixels: encode → byte-level decode
    → dhash agrees across every codec (decode losslessness + hash
    determinism in one property)."""
    px = media.synth_textured_pixels(doc_id)
    direct = media.dhash_pixels(px)
    blob = {
        "bmp": media.encode_bmp,
        "ppm": media.encode_ppm,
        "png": lambda p: media.encode_png(p, filter_type=doc_id % 5),
    }[fmt](px)
    if fmt == "bmp":
        _w, _h, back = media.decode_bmp(blob)
    elif fmt == "ppm":
        _w, _h, back = media.decode_ppm(blob)
    else:
        _w, _h, back = media.decode_png(blob)
    assert media.dhash_pixels(back) == direct


def test_dhash_resize_fallback_and_family_hamming():
    """Non-grid-divisible images take the deterministic nearest-neighbor
    fallback; family members of the textured fixture stay within the
    q141 hamming budget while the bump cell guarantees SOME variation."""
    rng = np.random.RandomState(7)
    odd = rng.randint(0, 256, size=(13, 11, 3)).astype(np.uint8)
    a = media.dhash_pixels(odd)
    assert a == media.dhash_pixels(odd)  # deterministic
    assert 0 <= a < 1 << 56

    for fam in [0, 9, 61]:
        hashes = [media.dhash_pixels(media.synth_textured_pixels(fam * 5 + v)) for v in range(5)]
        for i in range(5):
            for j in range(i + 1, 5):
                d = bin(hashes[i] ^ hashes[j]).count("1")
                assert d <= 4, (fam, i, j, d)


def test_dhash_images_spark_matches_local(spark):
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    fp = multimodal.dhash_images(
        multimodal.synthesize_textured_image_payloads(docs)
    )
    assert fp.columns == ["doc_id", "w0"]  # 56 bits: one word
    out = {r.doc_id: r.w0 for r in fp.collect()}
    for i in range(40):
        assert out[i] == media.dhash_pixels(media.synth_textured_pixels(i))


def test_dhash_grid9_two_words_and_superset(spark):
    """grid=9 packs 72 bits into two sign-safe 36-bit words; the shared
    (u, r) cells make the grid-9 texture a superset of grid-8's."""
    px8 = media.synth_textured_pixels(42)
    px9 = media.synth_textured_pixels(42, grid=9)
    assert px9.shape == (18, 18, 3)
    assert (px9[:16, :16] == px8).all()
    h9 = media.dhash_pixels(px9, grid=9)
    w0, w1 = media.dhash_words(h9, bits=72, word_bits=36)
    assert 0 <= w0 < 1 << 36 and 0 <= w1 < 1 << 36
    assert (w1 << 36) | w0 == h9
    import pytest

    with pytest.raises(ValueError):
        media.dhash_words(h9, bits=72, word_bits=64)


def test_multiword_hamming_pairs_matches_bruteforce(spark):
    """The banded multi-word join finds EXACTLY the brute-force
    hamming <= 4 pairs whenever n_bands > max_hamming (pigeonhole)."""
    import itertools
    import random

    from openstack_billing_from_db_spark.operators.dedup import (
        multiword_hamming_pairs,
    )

    rng = random.Random(11)
    base = rng.getrandbits(72)
    fps = {}
    for i in range(40):
        h = base if i % 3 == 0 else rng.getrandbits(72)
        # flip up to 6 random bits so some pairs straddle the threshold
        for _ in range(rng.randrange(0, 7)):
            h ^= 1 << rng.randrange(72)
        fps[i] = h
    rows = [
        (i, h & ((1 << 36) - 1), h >> 36) for i, h in fps.items()
    ]
    df = spark.createDataFrame(rows, "doc_id long, w0 long, w1 long")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in multiword_hamming_pairs(
            df, n_words=2, word_bits=36, band_bits=12, max_hamming=4
        ).collect()
    }
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 4
    }
    assert got == want

    import pytest

    with pytest.raises(ValueError):
        multiword_hamming_pairs(df, n_words=2, word_bits=36, band_bits=10)


def test_dhash_multiword_images_spark_matches_local(spark):
    docs = spark.createDataFrame([(i,) for i in range(25)], "doc_id long")
    out = {
        r.doc_id: (r.w0, r.w1)
        for r in multimodal.dhash_images(
            multimodal.synthesize_textured_image_payloads(docs, grid=9),
            grid=9,
            word_bits=36,
        ).collect()
    }
    for i in range(25):
        h = media.dhash_pixels(media.synth_textured_pixels(i, grid=9), grid=9)
        assert out[i] == tuple(media.dhash_words(h, bits=72, word_bits=36))


def test_tune_hamming_band_bits_boundaries():
    """Corpus-size-driven band-width selection (VERDICT r8 Next #2):
    widest pigeonhole-safe width wins; occupancy past the widest
    admissible band REFUSES instead of silently saturating."""
    from openstack_billing_from_db_spark.operators import dedup

    # single-word 56-bit dHash: widest width keeping > 4 bands is 11;
    # occupancy default 128 (the q142-measured anchor) bounds it at
    # 128 * 2^11 docs
    assert dedup.tune_hamming_band_bits(50, bits=56) == 11
    assert dedup.tune_hamming_band_bits(128 * 2048, bits=56) == 11
    with pytest.raises(ValueError, match="widen the fingerprint"):
        dedup.tune_hamming_band_bits(128 * 2048 + 1, bits=56)
    # a fingerprint that fits one word needs no divisor (no band can
    # straddle words): the ladder's 1×56 first rung tunes like the
    # bare 56-bit case, 11-bit bands up to 128 * 2^11 docs
    assert dedup.tune_hamming_band_bits(262_144, bits=56, word_bits=56) == 11
    with pytest.raises(ValueError, match="widen the fingerprint"):
        dedup.tune_hamming_band_bits(262_145, bits=56, word_bits=56)
    # several words still need the divisor: 72//5 = 14 and 13 skipped
    assert dedup.tune_hamming_band_bits(300_000, bits=72, word_bits=36) == 12
    # multiword 72-bit: width must divide word_bits (14, 13 skipped)
    assert dedup.tune_hamming_band_bits(50, bits=72, word_bits=36) == 12
    assert dedup.tune_hamming_band_bits(128 * 4096, bits=72, word_bits=36) == 12
    with pytest.raises(ValueError, match="widen the fingerprint"):
        dedup.tune_hamming_band_bits(128 * 4096 + 1, bits=72, word_bits=36)
    # tighter hamming budget narrows the widest admissible band
    assert dedup.tune_hamming_band_bits(50, bits=56, max_hamming=6) == 8
    # three-word 132-bit (r12): widest divisor of 44 under 132//5=26 is
    # 22 — 2^22 buckets per band, single-join headroom to ~537M docs
    assert dedup.tune_hamming_band_bits(50, bits=132, word_bits=44) == 22
    assert (
        dedup.tune_hamming_band_bits(128 * (1 << 22), bits=132, word_bits=44)
        == 22
    )
    with pytest.raises(ValueError, match="widen the fingerprint"):
        dedup.tune_hamming_band_bits(
            128 * (1 << 22) + 1, bits=132, word_bits=44
        )


def test_single_word_non_divisor_bands(spark):
    """ADVICE r11: with n_words == 1 a band can never straddle words,
    so non-divisor widths are legal and reproduce the single-word
    kernel's banding — the 56-bit audio fingerprint probes at the
    batch path's tuner-derived 11-bit bands (5 bands > max_hamming=4).
    Both the multiword kernel at (n_words=1, band_bits=11) and
    simhash_near_duplicates at band_bits=11 must emit exactly the
    all-pairs brute-force set at hamming ≤ 4 (5 bands > 4: exact recall)."""
    from openstack_billing_from_db_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    fp = multimodal.audio_dhash(
        multimodal.synthesize_family_audio_payloads(docs)
    )
    want = _brute_force_pairs(fp)
    assert want == {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_near_duplicates(
            fp.select("doc_id", F.col("w0").alias("simhash")),
            bits=56,
            band_bits=11,
            max_hamming=4,
        ).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.multiword_hamming_pairs(
            fp,
            n_words=1,
            word_bits=56,
            band_bits=11,
            max_hamming=4,
            bits=56,
        ).collect()
    }
    assert got == want and got
    # multi-word fingerprints still require the divisor (straddle guard)
    with pytest.raises(ValueError, match="divide"):
        dedup.multiword_hamming_pairs(
            fp.select("doc_id", "w0", F.lit(0).alias("w1")),
            n_words=2,
            word_bits=36,
            band_bits=11,
        )
    # band wider than the word refuses
    with pytest.raises(ValueError, match="wider than word_bits"):
        dedup.multiword_hamming_pairs(
            fp, n_words=1, word_bits=56, band_bits=60
        )


def test_multiword_hamming_pairs_padding_bands(spark):
    """ADVICE r8: fingerprints narrower than n_words*word_bits leave
    all-zero padding bands that would bucket EVERY doc together. With
    ``bits`` given, padding bands are skipped (output still exactly the
    brute-force pairs) and losing pigeonhole coverage is a hard error."""
    import itertools
    import random

    from openstack_billing_from_db_spark.operators.dedup import (
        multiword_hamming_pairs,
    )

    rng = random.Random(7)
    base = rng.getrandbits(60)
    fps = {}
    for i in range(30):
        h = base if i % 3 == 0 else rng.getrandbits(60)
        for _ in range(rng.randrange(0, 7)):
            h ^= 1 << rng.randrange(60)
        fps[i] = h
    rows = [(i, h & ((1 << 36) - 1), h >> 36) for i, h in fps.items()]
    df = spark.createDataFrame(rows, "doc_id long, w0 long, w1 long")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in multiword_hamming_pairs(
            df, n_words=2, word_bits=36, band_bits=12, max_hamming=4,
            bits=60,
        ).collect()
    }
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 4
    }
    assert got == want
    # 48 real bits at 12-bit bands = 4 non-padding bands: pigeonhole
    # coverage of max_hamming=4 is gone -> refuse, don't under-recall
    with pytest.raises(ValueError, match="pigeonhole"):
        multiword_hamming_pairs(
            df, n_words=2, word_bits=36, band_bits=12, bits=48
        )
    with pytest.raises(ValueError, match="bits"):
        multiword_hamming_pairs(
            df, n_words=2, word_bits=36, band_bits=12, bits=80
        )


def _brute_force_pairs(fp, *, min_frames=None, max_hamming=4):
    """All-pairs ``popcount(w0a ^ w0b) <= max_hamming`` over a
    producer's one-word rows: {(a, b): hamming} for (doc_id, w0) rows;
    with ``min_frames``, {(a, b): n_frames_matched} for
    (doc_id, frame_idx, w0) rows matching on ≥ ``min_frames`` frame
    positions."""
    import itertools

    def ham(x, y):
        return bin(x ^ y).count("1")

    rows = fp.collect()
    if min_frames is None:
        h = {r.doc_id: r.w0 for r in rows}
        dist = {
            (a, b): ham(h[a], h[b])
            for a, b in itertools.combinations(sorted(h), 2)
        }
        return {p: d for p, d in dist.items() if d <= max_hamming}
    h = {(r.doc_id, r.frame_idx): r.w0 for r in rows}
    ids = sorted({d for d, _ in h})
    frames = sorted({f for _, f in h})
    n_match = {
        (a, b): sum(ham(h[(a, f)], h[(b, f)]) <= max_hamming for f in frames)
        for a, b in itertools.combinations(ids, 2)
    }
    return {p: n for p, n in n_match.items() if n >= min_frames}


def test_phash_near_duplicates_selects_by_corpus_size(spark):
    """The composed perceptual-dedup entry point picks its fingerprint
    and band width from the corpus size: single-BIGINT 56-bit dHash
    while occupancy allows, then the W-word ladder — two-word 72-bit
    past ~131k, THREE-word 132-bit past ~524k (r12: widening beats
    chunking), chunk sharding only past the widest level's own bound,
    refusal past max_chunks (VERDICT r8 Next #2 / r11 Next #4)."""
    from openstack_billing_from_db_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pay = multimodal.synthesize_textured_image_payloads(docs)

    def pairs(df):
        return {(r.doc_a, r.doc_b): r.hamming for r in df.collect()}

    # small corpus -> the ladder's first rung: the 56-bit one-word dHash
    # at the tuned 11-bit bands; 5 bands > max_hamming makes the banding
    # exact (pigeonhole), so the output IS the producer's brute force
    got_small = pairs(multimodal.phash_near_duplicates(pay, n_docs=40))
    fp = multimodal.dhash_images(pay)
    want_small = _brute_force_pairs(fp)
    assert got_small == want_small and got_small
    # ... and the text simhash kernel over the same word agrees
    assert want_small == pairs(
        dedup.simhash_near_duplicates(
            fp.select("doc_id", F.col("w0").alias("simhash")),
            bits=56,
            band_bits=11,
            max_hamming=4,
        )
    )
    # n_docs=None counts the corpus itself -> same small-path output
    assert pairs(multimodal.phash_near_duplicates(pay)) == want_small

    # past the single-word boundary -> 72-bit two-word wide bands
    got_big = pairs(multimodal.phash_near_duplicates(pay, n_docs=300_000))
    want_big = pairs(
        dedup.multiword_hamming_pairs(
            multimodal.dhash_images(pay, grid=9, word_bits=36),
            n_words=2,
            word_bits=36,
            band_bits=12,
            max_hamming=4,
        )
    )
    assert got_big == want_big and got_big

    # past the two-word occupancy bound -> the THREE-word 132-bit mesh
    # at the tuner's 22-bit bands (a single join — widening multiplies
    # bucket space 1024x and beats chunk sharding). On this 16x16
    # fixture the 12-mesh is a nearest-neighbor resample, so a few
    # family pairs drift past hamming 4 — the ladder output must equal
    # the explicit three-word kernel, margin drift included.
    want_3w = pairs(
        dedup.multiword_hamming_pairs(
            multimodal.dhash_images(pay, grid=12, word_bits=44),
            n_words=3,
            word_bits=44,
            band_bits=22,
            max_hamming=4,
        )
    )
    got_3w = pairs(multimodal.phash_near_duplicates(pay, n_docs=600_000))
    assert got_3w == want_3w and got_3w

    # past even the three-word single-join ceiling (~537M) -> chunk
    # sharding AT the widest level, output ≡ the single-pass wide join
    # (exact recall: this 40-doc corpus straddles the chunks)
    got_chunked = pairs(
        multimodal.phash_near_duplicates(pay, n_docs=600_000_000)
    )
    assert got_chunked == want_3w

    # genuinely infeasible corpora (past max_chunks wide joins) refuse
    with pytest.raises(ValueError, match="widen the fingerprint"):
        multimodal.phash_near_duplicates(pay, n_docs=20_000_000_000)


def test_audio_family_hamming_and_spark_matches_local(spark):
    """The audio fixture mirrors the image one: within-family delta-hash
    hamming <= 4, cross-family far apart; the Spark decode+hash kernel
    equals the local closed form; WAV round-trip is lossless."""
    for fam in range(4):
        hs = [
            media.audio_delta_hash(media.synth_family_wav_samples(fam * 5 + v))
            for v in range(5)
        ]
        for i in range(5):
            for j in range(i + 1, 5):
                assert bin(hs[i] ^ hs[j]).count("1") <= 4
    cross = media.audio_delta_hash(
        media.synth_family_wav_samples(0)
    ) ^ media.audio_delta_hash(media.synth_family_wav_samples(95))
    assert bin(cross).count("1") > 10

    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    out = {
        r.doc_id: r.w0
        for r in multimodal.audio_dhash(
            multimodal.synthesize_family_audio_payloads(docs)
        ).collect()
    }
    for i in range(30):
        assert out[i] == media.audio_delta_hash(
            media.synth_family_wav_samples(i)
        )
    with pytest.raises(ValueError, match="samples"):
        media.audio_delta_hash(np.zeros(10, dtype=np.int16))


def test_video_family_frame_majority(spark):
    """The family video fixture + framewise join implement the >= 2-of-3
    frame-majority rule: undistorted member pairs match 3 frames,
    pairs touching one distorted frame match 2, and the
    (var=3, var=4) doubly-distorted pair is dropped."""
    from openstack_billing_from_db_spark.operators.dedup import (
        framewise_multiword_hamming_pairs,
    )

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    fp = multimodal.video_frame_dhash(
        multimodal.synthesize_family_video_payloads(docs), n_samples=3
    )
    got = {
        (r.doc_a, r.doc_b): r.n_frames_matched
        for r in framewise_multiword_hamming_pairs(
            fp, n_words=1, word_bits=56, band_bits=11, max_hamming=4,
            min_frames=2,
        ).collect()
    }
    for fam_base in (0, 5):
        m = lambda v: fam_base + v  # noqa: E731
        for x in range(3):
            for y in range(x + 1, 3):
                assert got[(m(x), m(y))] == 3
        for x in range(3):
            assert got[(m(x), m(3))] == 2
            assert got[(m(x), m(4))] == 2
        assert (m(3), m(4)) not in got
    # no cross-family pairs on this fixture
    assert all(a // 5 == b // 5 for a, b in got)
    # per-frame Spark hash equals the local closed form
    out = {
        (r.doc_id, r.frame_idx): r.w0 for r in fp.collect()
    }
    for i in (0, 3, 4, 7):
        frames = media.synth_family_video_frames(i)
        for f in range(3):
            assert out[(i, f)] == media.dhash_pixels(frames[f])


def test_multiword_hamming_matches_padding_bands(spark):
    """ADVICE r9: the streaming probe twin of multiword_hamming_pairs
    honors the same ``bits`` real-width contract — padding bands (which
    would put every doc in bucket 0 and degenerate the probe toward
    all-pairs) are skipped, output still exactly the brute-force
    matches, and losing pigeonhole coverage is a hard error."""
    import random

    from openstack_billing_from_db_spark.operators.dedup import (
        multiword_hamming_matches,
    )

    rng = random.Random(13)
    base = rng.getrandbits(60)
    fps = {}
    for i in range(30):
        h = base if i % 3 == 0 else rng.getrandbits(60)
        for _ in range(rng.randrange(0, 7)):
            h ^= 1 << rng.randrange(60)
        fps[i] = h
    rows = [(i, h & ((1 << 36) - 1), h >> 36) for i, h in fps.items()]
    existing = spark.createDataFrame(
        [r for r in rows if r[0] < 20], "doc_id long, w0 long, w1 long"
    )
    new = spark.createDataFrame(
        [r for r in rows if r[0] >= 20], "doc_id long, w0 long, w1 long"
    )
    got = {
        (r.new_id, r.match_id): (r.hamming, r.match_in_new)
        for r in multiword_hamming_matches(
            existing, new, n_words=2, word_bits=36, band_bits=12,
            max_hamming=4, bits=60,
        ).collect()
    }
    want = {
        (a, b): (bin(fps[a] ^ fps[b]).count("1"), b >= 20)
        for a in range(20, 30)
        for b in range(30)
        if a != b and bin(fps[a] ^ fps[b]).count("1") <= 4
    }
    assert got == want and got  # fixture guarantees matches exist

    with pytest.raises(ValueError, match="pigeonhole"):
        multiword_hamming_matches(
            existing, new, n_words=2, word_bits=36, band_bits=12, bits=48
        )
    with pytest.raises(ValueError, match="bits"):
        multiword_hamming_matches(
            existing, new, n_words=2, word_bits=36, band_bits=12, bits=80
        )


def test_framewise_hamming_pairs_bucket_cap(spark):
    """ADVICE r9: a degenerate frame population (constant/black frames)
    collapses into one (frame, band, bucket) key with quadratic
    candidates; ``max_bucket_size`` drops oversized buckets — a
    (pair, frame) match survives iff SOME matching band's bucket is
    under the cap — and the bucket-aware canonical-band test still
    counts each surviving (pair, frame) exactly once."""
    import random

    from openstack_billing_from_db_spark.operators.dedup import (
        framewise_multiword_hamming_pairs,
    )

    rng = random.Random(3)
    bits, band_bits = 56, 11  # 5 bands, mask per band = 11 bits
    n_docs = 10
    far = lambda: rng.getrandbits(bits) | (1 << 55)  # noqa: E731
    fp = {}
    # frame 0: every doc identical (the black-frame collapse)
    for d in range(n_docs):
        fp[(d, 0)] = 0
    # frame 1: docs 0/1 share a hash, others far apart
    h1 = rng.getrandbits(bits)
    fp[(0, 1)], fp[(1, 1)] = h1, h1
    for d in range(2, n_docs):
        fp[(d, 1)] = far()
    # frame 2: ALL docs share band 0 (low 11 bits zero) -> that bucket
    # is oversized; docs 0/1 additionally identical in bands 1-4
    h2 = rng.getrandbits(bits) & ~((1 << 11) - 1)
    fp[(0, 2)], fp[(1, 2)] = h2, h2
    for d in range(2, n_docs):
        fp[(d, 2)] = far() & ~((1 << 11) - 1)

    df = spark.createDataFrame(
        [(d, f, h) for (d, f), h in fp.items()],
        "doc_id long, frame_idx int, w0 long",
    )

    def brute(cap):
        mask = (1 << band_bits) - 1
        occ = {}
        for (d, f), h in fp.items():
            for k in range(bits // band_bits):
                key = (f, k, (h >> (k * band_bits)) & mask)
                occ[key] = occ.get(key, 0) + 1
        out = {}
        for a in range(n_docs):
            for b in range(a + 1, n_docs):
                n = 0
                for f in range(3):
                    x, y = fp[(a, f)], fp[(b, f)]
                    if bin(x ^ y).count("1") > 4:
                        continue
                    shared_ok = any(
                        ((x >> (k * band_bits)) & mask)
                        == ((y >> (k * band_bits)) & mask)
                        and (
                            cap is None
                            or occ[
                                (f, k, (x >> (k * band_bits)) & mask)
                            ]
                            <= cap
                        )
                        for k in range(bits // band_bits)
                    )
                    if shared_ok:
                        n += 1
                if n:
                    out[(a, b)] = n
        return out

    for cap, min_frames in ((None, 1), (5, 1), (5, 2)):
        got = {
            (r.doc_a, r.doc_b): r.n_frames_matched
            for r in framewise_multiword_hamming_pairs(
                df, n_words=1, word_bits=bits, band_bits=band_bits,
                max_hamming=4, min_frames=min_frames, max_bucket_size=cap,
            ).collect()
        }
        want = {
            p: n for p, n in brute(cap).items() if n >= min_frames
        }
        assert got == want, (cap, min_frames)
    # the fixture exercises what it claims: uncapped (0,1) matches all
    # 3 frames; capped drops the black frame but keeps frame 2 via the
    # under-cap bands 1-4 (counted once), so (0,1) -> exactly 2
    assert brute(None)[(0, 1)] == 3 and brute(5)[(0, 1)] == 2
    assert len(brute(None)) == 45 and len(brute(5)) == 1


def test_framewise_hamming_matches_bucket_cap(spark):
    """The streaming probe gets the same degenerate-frame skew cap as
    its batch twin: black frames accumulate in the persisted index, so
    without the cap each batch's black frames join the whole index.
    Capped, a frame match survives only via an under-cap band; the
    majority count still counts each (new, match, frame) exactly once."""
    from openstack_billing_from_db_spark.operators.dedup import (
        framewise_hamming_matches,
    )

    bits, band_bits = 56, 11

    def h(band_val):  # same value in all 5 bands
        return sum(band_val << (k * band_bits) for k in range(5))

    fp = {}
    index_docs = [0, 1, 2, 3, 4, 5]
    new_docs = [10, 11, 12, 13]
    # frame 0: EVERY doc identical (black frame) -> one oversized bucket
    for d in index_docs + new_docs:
        fp[(d, 0)] = 0
    # family A: index doc 0 and new doc 10 identical in frames 1, 2
    for f in (1, 2):
        fp[(0, f)] = h(7)
        fp[(10, f)] = h(7)
    # family B: new docs 11, 12 identical in frames 1, 2 (both directions)
    for f in (1, 2):
        fp[(11, f)] = h(9)
        fp[(12, f)] = h(9)
    # everything else far apart: unique per-band values, no shared bucket
    for d in index_docs[1:] + [13]:
        for f in (1, 2):
            fp[(d, f)] = h(100 + d)

    rows = [(d, f, v) for (d, f), v in fp.items()]
    union = spark.createDataFrame(rows, "doc_id long, frame_idx int, w0 long")
    existing = union.filter(union.doc_id < 10)
    new = union.filter(union.doc_id >= 10)

    def run(cap):
        return {
            (r.new_id, r.match_id): (r.n_frames_matched, r.match_in_new)
            for r in framewise_hamming_matches(
                existing, new, bits=bits, band_bits=band_bits,
                max_hamming=4, min_frames=2, max_bucket_size=cap,
            ).collect()
        }

    # uncapped: the black frame matches too -> 3 frames per family pair
    assert run(None) == {
        (10, 0): (3, False),
        (11, 12): (3, True),
        (12, 11): (3, True),
    }
    # capped at 5: the 10-doc black-frame bucket is dropped everywhere;
    # family matches survive via frames 1-2 only (counted once each)
    assert run(5) == {
        (10, 0): (2, False),
        (11, 12): (2, True),
        (12, 11): (2, True),
    }


def test_audio_near_duplicates_selects_by_corpus_size(spark):
    """The audio entry point escalates like the image one (VERDICT r10
    Next #2): 56-bit delta hash while occupancy allows, the 73-frame /
    72-bit two-word wide mesh past ~262k, hash-sharded chunk joins past
    ~524k — never a refusal until the chunk count itself blows up."""
    from openstack_billing_from_db_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    pay = multimodal.synthesize_family_audio_payloads(
        docs, n_frames=media.WIDE_AUDIO_FRAMES
    )

    def pairs(df):
        return {(r.doc_a, r.doc_b): r.hamming for r in df.collect()}

    # first rung: the 57-frame / 56-bit one-word hash over the wide
    # fixture, exact by pigeonhole -> the producer's brute force
    got_small = pairs(multimodal.audio_near_duplicates(pay, n_docs=30))
    assert got_small == _brute_force_pairs(multimodal.audio_dhash(pay))
    assert got_small
    want_wide = pairs(
        dedup.multiword_hamming_pairs(
            multimodal.audio_dhash(
                pay, n_frames=media.WIDE_AUDIO_FRAMES, word_bits=36
            ),
            n_words=2,
            word_bits=36,
            band_bits=12,
            max_hamming=4,
            bits=media.WIDE_AUDIO_FRAMES - 1,
        )
    )
    # all intra-family pairs found on the aligned wide fixture, none cross
    assert set(want_wide) == {
        (f * 5 + i, f * 5 + j)
        for f in range(6)
        for i in range(5)
        for j in range(i + 1, 5)
    }
    got_wide = pairs(multimodal.audio_near_duplicates(pay, n_docs=300_000))
    assert got_wide == want_wide
    # past the two-word bound -> the 133-frame / 132-bit three-word
    # temporal mesh (single join; the 73-frame fixture's 16-sample bump
    # frames align to the 8-sample fine frames, so family hamming stays
    # <= 4 and the family pair SET is preserved — values re-derived at
    # the finer mesh)
    want_3w = pairs(
        dedup.multiword_hamming_pairs(
            multimodal.audio_dhash(
                pay, n_frames=multimodal.XWIDE_AUDIO_FRAMES, word_bits=44
            ),
            n_words=3,
            word_bits=44,
            band_bits=22,
            max_hamming=4,
            bits=multimodal.XWIDE_AUDIO_FRAMES - 1,
        )
    )
    assert set(want_3w) == set(want_wide)
    got_3w = pairs(multimodal.audio_near_duplicates(pay, n_docs=600_000))
    assert got_3w == want_3w
    got_chunked = pairs(
        multimodal.audio_near_duplicates(pay, n_docs=600_000_000)
    )
    assert got_chunked == want_3w
    with pytest.raises(ValueError, match="widen the fingerprint"):
        multimodal.audio_near_duplicates(pay, n_docs=20_000_000_000)


def test_video_near_duplicates_selects_by_corpus_size(spark):
    """Video escalation: framewise 56-bit while occupancy allows, the
    grid=9 / 72-bit two-word per-frame mesh past ~262k, chunked wide
    joins past ~524k — with the ≥2-of-3 frame-majority rule preserved
    on every path (the wide fixture's family semantics)."""
    from openstack_billing_from_db_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pay = multimodal.synthesize_family_video_payloads(docs, grid=9)

    def pairs(df):
        return {
            (r.doc_a, r.doc_b): r.n_frames_matched for r in df.collect()
        }

    # first rung: the 56-bit one-word per-frame dHash, exact by
    # pigeonhole -> the producer's brute force with the 2-of-3 majority
    got_small = pairs(multimodal.video_near_duplicates(pay, n_docs=10))
    fp = multimodal.video_frame_dhash(pay)
    assert got_small == _brute_force_pairs(fp, min_frames=2) and got_small

    want_wide = pairs(
        dedup.framewise_multiword_hamming_pairs(
            multimodal.video_frame_dhash(pay, grid=9, word_bits=36),
            n_words=2,
            word_bits=36,
            band_bits=12,
            max_hamming=4,
            min_frames=2,
        )
    )
    # the family majority structure holds at the wide mesh
    for fam_base in (0, 5):
        m = lambda v: fam_base + v  # noqa: E731
        for x in range(3):
            for y in range(x + 1, 3):
                assert want_wide[(m(x), m(y))] == 3
        for x in range(3):
            assert want_wide[(m(x), m(3))] == 2
            assert want_wide[(m(x), m(4))] == 2
        assert (m(3), m(4)) not in want_wide
    assert all(a // 5 == b // 5 for a, b in want_wide)

    got_wide = pairs(multimodal.video_near_duplicates(pay, n_docs=300_000))
    assert got_wide == want_wide
    # past the two-word bound -> grid=12 / 132-bit three-word per-frame
    # mesh (single join; the 18x18 frames resample onto the 12-mesh, so
    # the majority counts may drift at the margin — the ladder output
    # must equal the explicit three-word framewise kernel)
    want_3w = pairs(
        dedup.framewise_multiword_hamming_pairs(
            multimodal.video_frame_dhash(pay, grid=12, word_bits=44),
            n_words=3,
            word_bits=44,
            band_bits=22,
            max_hamming=4,
            min_frames=2,
        )
    )
    got_3w = pairs(multimodal.video_near_duplicates(pay, n_docs=600_000))
    assert got_3w == want_3w
    got_chunked = pairs(
        multimodal.video_near_duplicates(pay, n_docs=600_000_000)
    )
    assert got_chunked == want_3w
    with pytest.raises(ValueError, match="widen the fingerprint"):
        multimodal.video_near_duplicates(pay, n_docs=20_000_000_000)


def test_tune_hamming_chunks_contract():
    """Chunk tuner: 1 chunk while the single join fits, smallest C whose
    per-join corpus (⌈2n/C⌉) passes the band tuner past that, refusal
    only past max_chunks."""
    from openstack_billing_from_db_spark.operators import dedup

    cap = 128 * 4096  # 72-bit wide path's single-join ceiling
    assert dedup.tune_hamming_chunks(cap, bits=72, word_bits=36) == (1, 12)
    assert dedup.tune_hamming_chunks(cap + 1, bits=72, word_bits=36) == (3, 12)
    assert dedup.tune_hamming_chunks(600_000, bits=72, word_bits=36) == (3, 12)
    c, bb = dedup.tune_hamming_chunks(5_000_000, bits=72, word_bits=36)
    assert bb == 12 and -(-2 * 5_000_000 // c) <= cap and c <= 32
    # past the max_chunks plan-size bound (528 joins at the default 32)
    # the answer is a wider fingerprint, not more chunks
    with pytest.raises(ValueError, match="max_chunks"):
        dedup.tune_hamming_chunks(100_000_000, bits=72, word_bits=36)


def test_chunked_hamming_pairs_equals_single_pass(spark):
    """The VERDICT r10 Next #5 pin: the union over C(C+1)/2 chunk-pair
    joins equals the single-pass pair set exactly — on a fixture whose
    families straddle chunk boundaries (hash chunking scatters the 5
    members of each family across the 3 chunks) — and each pair is
    emitted exactly once."""
    from openstack_billing_from_db_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    fp = multimodal.dhash_images(
        multimodal.synthesize_textured_image_payloads(docs),
        grid=9,
        word_bits=36,
    )

    def wide_pairs(subset):
        return dedup.multiword_hamming_pairs(
            subset, n_words=2, word_bits=36, band_bits=12, max_hamming=4
        )

    single = [(r.doc_a, r.doc_b) for r in wide_pairs(fp).collect()]
    chunked = [
        (r.doc_a, r.doc_b)
        for r in dedup.chunked_hamming_pairs(
            fp, wide_pairs, n_chunks=3
        ).collect()
    ]
    assert sorted(chunked) == sorted(single) and single
    assert len(chunked) == len(set(chunked))  # exactly-once emission
    # the fixture genuinely straddles: at least one family has members
    # in more than one chunk
    from openstack_billing_from_db_spark.functions.hashing import py_hash64

    chunks_by_fam = {}
    for i in range(40):
        chunks_by_fam.setdefault(i // 5, set()).add(
            py_hash64(f"hchunk|{i}") % 3
        )
    assert any(len(cs) > 1 for cs in chunks_by_fam.values())
    with pytest.raises(ValueError, match="n_chunks"):
        dedup.chunked_hamming_pairs(fp, wide_pairs, n_chunks=0)


def test_multiword_hamming_pairs_bucket_cap(spark):
    """max_bucket_size on the multiword kernel (the framewise cap,
    ported): a degenerate bucket population emits nothing, a pair whose
    OTHER band is under the cap survives and is emitted exactly once."""
    from openstack_billing_from_db_spark.operators import dedup

    # 12 docs share word0 (band 0..2 over 36 bits at 12-bit bands all
    # collide); pairs differ in word1 by > max_hamming except one pair
    rows = []
    for i in range(12):
        w1 = (0b111111 << 6) if i else 0  # doc 0 far from the rest
        rows.append((i, 5, w1 if i != 2 else 1))  # docs 1&2: hamming 1... 
    # make docs 1 and 2 near: w1 values 0b111111000000 vs 1 differ a lot;
    # instead give them equal w1
    rows[1] = (1, 5, 77)
    rows[2] = (2, 5, 77)
    fp = spark.createDataFrame(rows, "doc_id long, w0 long, w1 long")

    def run(cap):
        return {
            (r.doc_a, r.doc_b)
            for r in dedup.multiword_hamming_pairs(
                fp,
                n_words=2,
                word_bits=36,
                band_bits=12,
                max_hamming=4,
                max_bucket_size=cap,
            ).collect()
        }

    uncapped = run(None)
    assert (1, 2) in uncapped
    # cap 5: every w0 band bucket holds all 12 docs -> dropped; docs 1&2
    # still collide via their (under-cap) w1 bands
    capped = run(5)
    assert (1, 2) in capped
    assert capped <= uncapped


def test_framewise_multiword_matches_narrow_kernel(spark):
    """framewise_multiword_hamming_pairs over one 56-bit word per frame
    (the single-dHash video shape) must emit exactly the brute-force
    frame-majority set — every frame position compared for every pair
    at hamming ≤ 4 — at the tuned 11-bit bands (non-divisor, 5 bands)
    and at 8-bit bands (divisor, 7 bands): exact recall either way."""
    from openstack_billing_from_db_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    fp = multimodal.video_frame_dhash(
        multimodal.synthesize_family_video_payloads(docs), n_samples=3
    )
    want = _brute_force_pairs(fp, min_frames=2)
    for band_bits in (11, 8):
        got = {
            (r.doc_a, r.doc_b): r.n_frames_matched
            for r in dedup.framewise_multiword_hamming_pairs(
                fp,
                n_words=1,
                word_bits=56,
                band_bits=band_bits,
                max_hamming=4,
                min_frames=2,
                bits=56,
            ).collect()
        }
        assert got == want and want, band_bits


# --- video scene cuts (round 11) -----------------------------------------------


def _scene_payload_df(spark, clips):
    """clips: dict doc_id -> list of frames (np arrays)."""
    rows = [(i, bytearray(media.encode_video(fs))) for i, fs in clips.items()]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _const_frame(v, h=16, w=16):
    px = np.full((h, w), v, dtype=np.uint8)
    return np.stack([px, px, px], axis=2)


def test_video_scene_cuts_spans_and_reps(spark):
    """Two hard cuts -> three scenes with exact frame spans; a flat clip
    -> one scene; rep_frame is each scene's first frame."""
    clips = {
        1: [_const_frame(v) for v in (10, 10, 10, 200, 200, 30, 30, 30)],
        2: [_const_frame(77) for _ in range(5)],
    }
    out = multimodal.video_scene_cuts(_scene_payload_df(spark, clips))
    rows = {
        (r.doc_id, r.scene_idx): (r.start_frame, r.end_frame, r.n_frames, r.rep_frame)
        for r in out.collect()
    }
    assert rows == {
        (1, 0): (0, 2, 3, 0),
        (1, 1): (3, 4, 2, 3),
        (1, 2): (5, 7, 3, 5),
        (2, 0): (0, 4, 5, 0),
    }


def test_video_scene_cuts_threshold_semantics(spark):
    """The same clip segments differently as the threshold moves across
    the delta magnitude: a uniform 10->12 flip is a mean per-cell delta
    of exactly 2 gray levels."""
    clips = {7: [_const_frame(v) for v in (10, 12, 10, 12)]}
    df = _scene_payload_df(spark, clips)
    loose = multimodal.video_scene_cuts(df, cut_threshold=2)  # 2 > 2 false
    tight = multimodal.video_scene_cuts(df, cut_threshold=1)
    assert loose.count() == 1  # all deltas at/under threshold: one scene
    assert tight.count() == 4  # every frame flip is a cut


def test_video_scene_cuts_resolution_independent(spark):
    """The SAME per-pixel change cuts identically at 16x16 and 64x64:
    the threshold is in mean per-cell gray levels, not raw pooled
    sums (pool_scale normalizes the compare)."""
    for size in (16, 64):
        clips = {3: [_const_frame(v, h=size, w=size) for v in (10, 10, 40)]}
        out = multimodal.video_scene_cuts(
            _scene_payload_df(spark, clips), cut_threshold=8
        )
        assert out.count() == 2, f"size {size}"  # one cut at frame 2


def test_synth_scene_video_frames_structure():
    """Scene lengths follow doc_id % 4; within-scene frames differ only
    by the moving jitter cell; cross-scene textures differ widely."""
    for doc_id, L in ((0, 3), (1, 4), (2, 5), (3, 12)):
        frames = media.synth_scene_video_frames(doc_id)
        assert len(frames) == media.SCENE_CLIP_FRAMES
        assert media.scene_len(doc_id) == L
        for f in range(1, media.SCENE_CLIP_FRAMES):
            a = frames[f - 1].astype(np.int64).sum(axis=2)
            b = frames[f].astype(np.int64).sum(axis=2)
            delta = int(np.abs(a - b).sum())
            if f // L == (f - 1) // L:
                assert delta <= 2 * 12  # jitter cells only
            else:
                assert delta > 4096  # scene boundary


@settings(max_examples=15, deadline=None)
@given(
    data=st.data(),
    n_frames=st.integers(1, 6),
    threshold=st.integers(1, 40),
)
def test_video_scene_cuts_matches_python_reference(
    spark, data, n_frames, threshold
):
    """Property pin: the distributed scene-cut plan equals a pure-Python
    reference over arbitrary small clips — pooling, scale, lag deltas,
    the strict threshold compare, and the running scene count all at
    once. Frame dims are drawn per clip (divisible and non-divisible by
    the grid, so both pooling paths and the mid-clip resolution-change
    scale rule are exercised)."""
    import numpy as np

    dims = data.draw(
        st.lists(
            st.tuples(st.integers(4, 20), st.integers(4, 20)),
            min_size=n_frames,
            max_size=n_frames,
        )
    )
    frames = []
    rng_vals = data.draw(
        st.lists(st.integers(0, 255), min_size=n_frames, max_size=n_frames)
    )
    for (h, w), v in zip(dims, rng_vals):
        px = np.full((h, w), v, dtype=np.uint8)
        frames.append(np.stack([px, px, px], axis=2))

    # pure-Python reference over the same codec output
    grid = 8
    meshes = [media.pool_intensity_mesh(f, grid=grid) for f in frames]
    cuts = [0]
    for i in range(1, n_frames):
        (ma, sa), (mb, sb) = meshes[i - 1], meshes[i]
        delta = int(np.abs(ma - mb).sum())
        cuts.append(1 if delta > threshold * grid * grid * max(sa, sb) else 0)
    scene_of = np.cumsum(cuts)
    expected = {}
    for f, s in enumerate(scene_of):
        s = int(s)
        if s not in expected:
            expected[s] = [f, f, 0, f]
        expected[s][1] = f
        expected[s][2] += 1
    expected = {
        (1, s): tuple(v) for s, v in expected.items()
    }  # (start, end, n, rep)

    df = _scene_payload_df(spark, {1: frames})
    out = multimodal.video_scene_cuts(df, cut_threshold=threshold)
    got = {
        (r.doc_id, r.scene_idx): (
            r.start_frame,
            r.end_frame,
            r.n_frames,
            r.rep_frame,
        )
        for r in out.collect()
    }
    assert got == expected


def test_video_scene_cuts_frame_stride(spark):
    """Stride sampling detects the cut at the sampled position and
    halves the decoded frame count; skipped frames never appear."""
    clips = {9: [_const_frame(v) for v in (10, 10, 10, 10, 200, 200, 200, 200)]}
    df = _scene_payload_df(spark, clips)
    out = {
        (r.scene_idx): (r.start_frame, r.end_frame, r.n_frames)
        for r in multimodal.video_scene_cuts(df, frame_stride=2).collect()
    }
    # sampled frames: 0,2,4,6 -> scenes [0,2] and [4,6], 2 sampled frames each
    assert out == {0: (0, 2, 2), 1: (4, 6, 2)}
    with pytest.raises(ValueError):
        multimodal.video_frame_cells(df, frame_stride=0).collect()


def test_scene_rep_dedup_subset_of_all_frames(spark):
    """VERDICT r11 Next #6 pin: scene-representative dedup drops are a
    SUBSET of all-frames perceptual dedup — a rep frame IS a frame, so
    any (scene_a, scene_b) pair the composed operator emits must appear
    as its (rep_frame_a, rep_frame_b) pair when EVERY frame is an
    entity in the same banded join. Also pins the JVM-side mesh dHash
    against media.dhash_pixels on the synthesized frames (one decode
    serving segmentation and hashing must not change the fingerprint)."""
    from openstack_billing_from_db_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pay = multimodal.synthesize_family_scene_video_payloads(docs)

    got = [
        (r.doc_a, r.scene_a, r.doc_b, r.scene_b, r.hamming)
        for r in multimodal.scene_representative_dedup(
            pay, band_bits=11
        ).collect()
    ]
    assert got  # family scene structure produces pairs
    # every pair crosses videos of one family (scene textures are
    # family-keyed; cross-family fingerprints are ~Binomial(56, 1/2))
    assert all(a != b and a // 5 == b // 5 for a, _, b, _, _ in got)

    cells = multimodal.video_frame_cells(pay)
    scenes = multimodal.scene_spans_from_cells(cells)
    rep_of = {
        (r.doc_id, r.scene_idx): r.rep_frame for r in scenes.collect()
    }

    # JVM mesh dHash ≡ the local pixel dHash on the same frames
    mesh_fp = {
        (r.doc_id, r.frame_idx): r.h
        for r in cells.select(
            "doc_id",
            "frame_idx",
            multimodal.mesh_dhash_column(F.col("cells")).alias("h"),
        ).collect()
    }
    for doc in range(3):
        frames = media.synth_family_scene_video_frames(doc)
        for f, px in enumerate(frames):
            assert mesh_fp[(doc, f)] == media.dhash_pixels(px, grid=8)

    # all-frames banded dedup at the same width: entity = (doc, frame)
    fac = 1 << 20
    all_pairs = {
        (r.doc_a // fac, r.doc_a % fac, r.doc_b // fac, r.doc_b % fac): (
            r.hamming
        )
        for r in dedup.simhash_near_duplicates(
            cells.select(
                (F.col("doc_id") * fac + F.col("frame_idx")).alias("doc_id"),
                multimodal.mesh_dhash_column(F.col("cells")).alias("simhash"),
            ),
            bits=56,
            band_bits=11,
            max_hamming=4,
        ).collect()
    }
    for da, sa, db, sb, ham in got:
        key = (da, rep_of[(da, sa)], db, rep_of[(db, sb)])
        assert all_pairs.get(key) == ham


def test_three_word_plan_shapes(spark):
    """Round-12 plan pins: (a) the three-word banded join emits each
    pair from its first matching band only — no Deduplicate/aggregate
    over the pair output in the optimized plan (the canonical-band
    contract, same as the single-word kernels); (b) the scene-rep dedup
    composition decodes ONCE — its physical plan reads the persisted
    frame-mesh cache (InMemoryTableScan) on BOTH consumer branches
    (segmentation window + rep-frame hash) instead of a second
    mapInPandas decode."""
    from openstack_billing_from_db_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(15)], "doc_id long")
    fp = multimodal.dhash_images(
        multimodal.synthesize_textured_image_payloads(docs, grid=12),
        grid=12,
        word_bits=44,
    )
    plan = (
        dedup.multiword_hamming_pairs(
            fp, n_words=3, word_bits=44, band_bits=22, max_hamming=4
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Deduplicate" not in plan and "Aggregate [doc_a" not in plan

    pay = multimodal.synthesize_family_scene_video_payloads(docs)
    df = multimodal.scene_representative_dedup(pay, band_bits=11)
    phys = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert phys.count("InMemoryTableScan") >= 2
    from openstack_billing_from_db_spark.operators.caching import (
        release_operator_caches,
    )

    release_operator_caches()
