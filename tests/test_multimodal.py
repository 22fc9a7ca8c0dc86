"""Multimodal decode is REAL for the dependency-free formats: BMP
(24-bit BI_RGB), netpbm P6/P5, and 16-bit PCM WAV — round-tripped
through our own encoders, featurized and resized through the Spark
kernels on genuine format bytes. Only compressed codecs stay stubbed."""

import numpy as np
import pytest

from docstrange_spark import datagen
from docstrange_spark.operators import dedup
from docstrange_spark.operators import multimodal as mm


def test_bmp_roundtrip_exact():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    out = mm.decode_bmp(mm.encode_bmp(img))
    assert np.array_equal(out, img)
    assert mm.sniff_format(mm.encode_bmp(img)) == "bmp"


def test_ppm_roundtrip_exact_and_comments():
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    assert np.array_equal(mm.decode_ppm(mm.encode_ppm(img)), img)
    # header with a comment line still parses
    with_comment = b"P6\n# a comment\n6 4\n255\n" + img.tobytes()
    assert np.array_equal(mm.decode_ppm(with_comment), img)
    gray = rng.integers(0, 256, size=(3, 5, 1), dtype=np.uint8)
    assert np.array_equal(mm.decode_ppm(mm.encode_ppm(gray)), gray)


def test_wav_roundtrip_16bit():
    rate = 8000
    x = (np.sin(2 * np.pi * 440 * np.arange(200) / rate) * 0.25).astype(np.float32)
    decoded, got_rate = mm.decode_wav(mm.encode_wav(x, rate))
    assert got_rate == rate and decoded.shape == (200, 1)
    assert np.max(np.abs(decoded[:, 0] - x)) < 1 / 32767


def test_resize_nearest_semantics():
    img = np.array([[[0], [10]], [[20], [30]]], dtype=np.uint8)
    up = mm.resize_nearest(img, 4, 4)
    assert up.shape == (4, 4, 1)
    assert up[0, 0, 0] == 0 and up[0, 3, 0] == 10
    assert up[3, 0, 0] == 20 and up[3, 3, 0] == 30


def test_extract_features_real_decode(spark):
    media = datagen.media_table(spark, n=12)
    out = {r["media_ref"]: r for r in mm.extract_features(media).collect()}
    assert len(out) == 12
    for i in range(12):
        r = out[f"media-{i:06d}"]
        assert len(r["features"]) == mm.FEATURE_DIM
        assert all(np.isfinite(r["features"]))
        if i % 3 == 0:
            assert r["format"] == "bmp"
            assert (r["height"], r["width"]) == (6 + i % 5, 8 + i % 7)
        elif i % 3 == 1:
            assert r["format"] == "ppm"
        else:
            assert r["format"] == "wav"
            assert r["height"] == 400 + (i % 100)  # samples
            # rms of a 0.5-amplitude sine ~ 0.35
            assert 0.3 < r["features"][3] < 0.4


def test_resize_images_kernel(spark):
    media = datagen.media_table(spark, n=6)
    thumbs = mm.resize_images(media, height=3, width=4).collect()
    assert len(thumbs) == 4  # 6 ids -> 4 images, 2 wavs skipped
    for t in thumbs:
        img = mm.decode_ppm(bytes(t["thumb"]))
        assert img.shape == (3, 4, 3)


def test_unknown_format_honest_error():
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"\x89PNG\r\n\x1a\n garbage")
    fake = mm.decode_media(b"\x89PNG junk", fake=True)
    assert len(fake) == mm.FEATURE_DIM


def test_zero_frame_wav_features():
    """A valid zero-frame 16-bit PCM WAV must produce a zero feature row,
    not crash the stage (rfft on 0 samples raises, empty mean is NaN)."""
    from docstrange_spark.operators.multimodal import encode_wav, decode_wav, _audio_features
    import numpy as np

    payload = encode_wav(np.zeros((0, 1), dtype=np.int16), 8000)
    x, rate = decode_wav(payload)
    feats = _audio_features(x, rate)
    assert len(feats) == 16
    assert feats[0] == 0.0 and feats[1] == 8000.0
    assert all(f == f for f in feats)  # no NaN


def test_dhash_bits_known_image():
    # hand-checkable 8x9 gradient: every left pixel darker than its
    # right neighbor -> all 64 bits zero; reversed -> all ones
    img = np.tile(np.arange(9, dtype=np.uint8) * 10, (8, 1))
    assert mm.dhash_bits(img) == (0, 0)
    rev = img[:, ::-1].copy()
    assert mm.dhash_bits(rev) == (2**32 - 1, 2**32 - 1)
    # words always fit 32 unsigned bits (split-word portability)
    hi, lo = mm.dhash_bits(np.random.default_rng(7).integers(
        0, 256, size=(16, 16, 3), dtype=np.uint8
    ))
    assert 0 <= hi < 2**32 and 0 <= lo < 2**32


def test_words64_matches_bit_loop():
    # reference: the MSB-first shift loop, one bit at a time
    rng = np.random.default_rng(3)
    cases = [np.zeros(64, bool), np.ones(64, bool)]
    cases += list(rng.integers(0, 2, size=(20, 64)).astype(bool))
    for bits in cases:
        hi = lo = 0
        for b in bits[:32]:
            hi = (hi << 1) | int(b)
        for b in bits[32:]:
            lo = (lo << 1) | int(b)
        assert mm._words64(bits) == (hi, lo)


def test_dhash_invariant_to_encode_roundtrip():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    back = mm.decode_bmp(mm.encode_bmp(img))
    assert mm.dhash_bits(img) == mm.dhash_bits(back)


def test_image_near_dups_triples(spark):
    # corpus_media makes id-triples share a base image with one
    # perturbed member: every triple must pair up within hamming 6,
    # and no pair may cross triples (independent md5 bases)
    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    media = datagen.corpus_media(docs)
    pairs = mm.image_near_dups(media, max_hamming=6).collect()
    assert len(pairs) == 30  # 10 triples x C(3,2)
    for r in pairs:
        a = int(r["ref_a"].split("-")[1])
        b = int(r["ref_b"].split("-")[1])
        assert a // 3 == b // 3, (a, b)
        assert r["hamming"] <= 6


@pytest.mark.parametrize(
    "fn, max_hamming",
    [
        pytest.param(fn, h, id=f"{fn.__name__}={h}")
        for fn, n_bands in [
            (mm.image_near_dups, 8),
            (mm.image_clusters, 8),
            (mm.audio_near_dups, 8),
            (mm.audio_clusters, 8),
            (dedup.simhash_pairs, 4),
        ]
        for h in (-1, n_bands)
    ],
)
def test_max_hamming_bound(fn, max_hamming):
    # the byte-band pigeonhole only guarantees recall below the band
    # count; the bound is checked before the input is touched (None)
    with pytest.raises(ValueError, match="pigeonhole"):
        fn(None, max_hamming=max_hamming)


def test_afp_bits_known_signal():
    # 260 samples whose frame energies strictly decrease -> every
    # consecutive-frame comparison is True -> all 64 bits set
    import numpy as np

    desc = np.repeat(np.arange(65, 0, -1) * 100, 4)
    hi, lo = mm.afp_bits(desc)
    assert hi == 0xFFFFFFFF and lo == 0xFFFFFFFF
    # ascending energies -> no bit set
    hi, lo = mm.afp_bits(np.repeat(np.arange(1, 66) * 100, 4))
    assert (hi, lo) == (0, 0)
    with pytest.raises(ValueError):
        mm.afp_bits(np.arange(10))


def test_afp_invariant_to_wav_roundtrip():
    # the fingerprint of an int16 signal survives the float WAV
    # encode/decode path bit-exactly (rint recovery)
    import numpy as np

    rng = np.random.default_rng(7)
    s = rng.integers(-32767, 32768, size=260).astype(np.int64)
    direct = mm.afp_bits(s)
    payload = mm.encode_wav((s / 32767.0).astype(np.float64), 8000)
    x, rate = mm.decode_wav(payload)
    ints = np.rint(x * 32767.0).astype(np.int64)
    assert rate == 8000
    assert mm.afp_bits(ints.sum(axis=1) // ints.shape[1]) == direct


def test_audio_near_dups_triples(spark):
    # corpus_audio id-triples share a base clip with one
    # frame-perturbed member: every triple pairs up within hamming 6
    # (perturbation flips at most 3 adjacent bits), none cross triples
    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    media = datagen.corpus_audio(docs)
    pairs = mm.audio_near_dups(media, max_hamming=6).collect()
    assert len(pairs) == 30  # 10 triples x C(3,2)
    for r in pairs:
        a = int(r["ref_a"].split("-")[1])
        b = int(r["ref_b"].split("-")[1])
        assert a // 3 == b // 3, (a, b)
        assert r["hamming"] <= 3


def test_audio_clusters_reps(spark):
    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    clusters = {
        r["media_ref"]: r["cluster_rep"]
        for r in mm.audio_clusters(
            datagen.corpus_audio(docs), max_hamming=6
        ).collect()
    }
    assert len(clusters) == 12
    for did in range(12):
        # min-ref label is the LEXICOGRAPHIC min within the triple
        # (e.g. 'aud-10' < 'aud-9'), matching the string-keyed closure
        base = did // 3
        expect = min(f"aud-{base * 3 + j}" for j in range(3))
        assert clusters[f"aud-{did}"] == expect


def test_audio_fingerprint_skips_non_wav(spark):
    # mixed media: only WAV rows produce fingerprints
    media = datagen.media_table(spark, n=9)  # BMP/PPM/WAV cycle
    out = mm.audio_fingerprint(media).collect()
    assert {r["media_ref"] for r in out} == {
        f"media-{i:06d}" for i in range(9) if i % 3 == 2
    }
    for r in out:
        assert r["sample_rate"] == 8000 and r["n_samples"] >= 65
