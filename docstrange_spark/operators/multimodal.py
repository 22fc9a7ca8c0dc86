"""Multimodal columns: image/audio(/video) as opaque binary columns with
typed metadata, decoded and featurized inside Arrow-batched kernels.

Decoders are REAL and dependency-free for the public uncompressed
formats — BMP (24-bit BI_RGB), netpbm PPM/PGM (P6/P5), and WAV (16-bit
PCM via the stdlib ``wave`` module) — implemented in pure numpy/struct.
Compressed codecs (JPEG/PNG/MP4) need libraries absent from this
container; payloads in those formats raise ``NotImplementedError``
unless ``fake=True`` substitutes the deterministic hash-decode, and
``frame_sample_plan`` remains the honestly-stubbed video path. Swapping
in real codec libs extends ``decode_media``'s dispatch, not the plan.

Two Python kernels: ``extract_features`` and one per-payload
``mapInPandas`` pass (``_per_payload``) behind ``resize_images``,
``image_dhash`` and ``audio_fingerprint``. The dHash and audio
fingerprint are both 64 bits packed as two 32-bit words; their
near-dup pairs and clusters share one body over
``dedup.banded_hamming_pairs`` (8 byte-bands, ``max_hamming`` in
[0, 7]) and ``dedup.connected_components``.

Reference linkage: docstrange treats media as whole-file inputs to the
OCR/VLM models (processors/image_processor.py:47-92,
processors/pdf_processor.py:123-183); here media rides alongside text
spans as ``media_ref`` -> binary payload rows.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import banded_hamming_pairs, check_max_hamming, connected_components

MEDIA_SCHEMA_DDL = (
    "media_ref string, kind string, payload binary, "
    "meta map<string,string>"
)

FEATURE_DIM = 16

FEATURE_SCHEMA_DDL = (
    "media_ref string, kind string, format string, n_bytes long, "
    "sha1 string, width int, height int, features array<float>"
)


# ---------------------------------------------------------------------------
# codecs (pure numpy / stdlib)


def sniff_format(payload: bytes) -> str:
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] in (b"P6", b"P5"):
        return "ppm" if payload[:2] == b"P6" else "pgm"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return "unknown"


def _pnm_header(payload: bytes, n_fields: int) -> tuple[list[int], int]:
    """Parse netpbm header tokens (whitespace-separated, '#' comments)."""
    fields: list[int] = []
    i = 2  # past magic
    while len(fields) < n_fields:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    return fields, i + 1  # single whitespace after maxval


def decode_ppm(payload: bytes) -> np.ndarray:
    """P6 -> (H, W, 3) uint8; P5 -> (H, W, 1)."""
    channels = 3 if payload[:2] == b"P6" else 1
    (w, h, maxval), off = _pnm_header(payload, 3)
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm not supported")
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * channels, offset=off)
    return data.reshape(h, w, channels)


def encode_ppm(img: np.ndarray) -> bytes:
    """(H, W, 3|1) uint8 -> P6/P5 bytes."""
    h, w, c = img.shape
    magic = b"P6" if c == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP -> (H, W, 3) uint8 (RGB order)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_offset
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> 24-bit bottom-up BI_RGB BMP bytes."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # RGB -> BGR
    pixel_bytes = body.tobytes()
    file_size = 54 + len(pixel_bytes)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0
    )
    return header + pixel_bytes


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """16-bit PCM WAV -> (float32 samples in [-1, 1] shaped (n, ch), rate)."""
    with wave.open(io.BytesIO(payload)) as f:
        if f.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV supported")
        raw = np.frombuffer(f.readframes(f.getnframes()), dtype="<i2")
        # 32767 matches the encoder's scale, so roundtrips are symmetric
        x = (raw.astype(np.float32) / 32767.0).reshape(-1, f.getnchannels())
        return x, f.getframerate()


def encode_wav(x: np.ndarray, rate: int) -> bytes:
    """float samples in [-1, 1] shaped (n,) or (n, ch) -> 16-bit PCM WAV."""
    x = np.atleast_2d(x.T).T
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(x.shape[1])
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(
            (np.clip(x, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
        )
    return buf.getvalue()


def resize_nearest(img: np.ndarray, height: int, width: int) -> np.ndarray:
    """Nearest-neighbor resize via index maps (no interpolation deps)."""
    h, w = img.shape[:2]
    ri = (np.arange(height) * h // height).clip(0, h - 1)
    ci = (np.arange(width) * w // width).clip(0, w - 1)
    return img[ri][:, ci]


# ---------------------------------------------------------------------------
# feature extraction


def _image_features(img: np.ndarray) -> list[float]:
    """16 floats: dims, per-channel means, gray std, 9-bin gray hist."""
    h, w, c = img.shape
    as3 = img if c == 3 else np.repeat(img, 3, axis=2)
    gray = as3.astype(np.float32).mean(axis=2)
    hist, _ = np.histogram(gray, bins=9, range=(0.0, 255.0))
    hist = hist / max(gray.size, 1)
    means = as3.reshape(-1, 3).mean(axis=0) / 255.0
    return [
        float(v)
        for v in [h, w, c, *means, float(gray.std()) / 255.0, *hist]
    ]


def _audio_features(x: np.ndarray, rate: int) -> list[float]:
    """16 floats: n, rate, channels, rms, zcr, peak, 10-bin |FFT| energy."""
    mono = x.mean(axis=1)
    n = len(mono)
    if n == 0:
        # a valid zero-frame WAV: rfft raises and mean() emits NaN on
        # empty input, which would fail the whole Spark stage — emit a
        # well-defined all-zero feature row instead
        return [0.0, float(rate), float(x.shape[1]), 0.0, 0.0, 0.0] + [0.0] * 10
    rms = float(np.sqrt(np.mean(mono**2)))
    zcr = float(np.mean(np.abs(np.diff(np.sign(mono))) > 0)) if n > 1 else 0.0
    peak = float(np.max(np.abs(mono)))
    spec = np.abs(np.fft.rfft(mono))
    bins = np.array_split(spec, 10)
    total = float(spec.sum()) or 1.0
    energy = [float(b.sum()) / total for b in bins]
    return [float(n), float(rate), float(x.shape[1]), rms, zcr, peak, *energy]


def _fake_features(payload: bytes) -> list[float]:
    digest = hashlib.sha1(payload).digest()
    raw = np.frombuffer(
        (digest * ((4 * FEATURE_DIM) // len(digest) + 1))[: 4 * FEATURE_DIM],
        dtype=np.uint8,
    )
    return [
        float(v)
        for v in (raw.astype(np.float32).reshape(FEATURE_DIM, 4).mean(axis=1)) / 255.0
    ]


def _decode_image(payload: bytes) -> tuple[str, np.ndarray | None]:
    """Sniff one payload: (format, (H, W, C) uint8 pixels) for BMP and
    PPM/PGM, (format, None) for anything else."""
    fmt = sniff_format(payload)
    if fmt == "bmp":
        return fmt, decode_bmp(payload)
    if fmt in ("ppm", "pgm"):
        return fmt, decode_ppm(payload)
    return fmt, None


def decode_media(payload: bytes, kind: str | None = None, fake: bool = False):
    """Decode a payload by sniffed format: images -> (H, W, C) uint8,
    audio -> (samples, rate). Unknown/compressed formats raise unless
    ``fake=True`` degrades to the deterministic hash-decode."""
    fmt, img = _decode_image(payload)
    if img is not None:
        return img
    if fmt == "wav":
        return decode_wav(payload)
    if fake:
        return np.array(_fake_features(payload), dtype=np.float32)
    raise NotImplementedError(
        f"no dependency-free decoder for format '{fmt}' (compressed codecs "
        "need libraries not present in this environment); fake=True "
        "substitutes a deterministic pseudo-decode"
    )


def _feature_row(payload: bytes, fake: bool) -> tuple[str, int, int, list[float]]:
    fmt, img = _decode_image(payload)
    if img is not None:
        return fmt, img.shape[1], img.shape[0], _image_features(img)
    if fmt == "wav":
        x, rate = decode_wav(payload)
        return fmt, x.shape[1], len(x), _audio_features(x, rate)
    if fake:
        return fmt, 0, 0, _fake_features(payload)
    raise NotImplementedError(f"undecodable media format '{fmt}'")


def _feature_kernel(fake: bool):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, kind, payload in zip(
                pdf["media_ref"], pdf["kind"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                fmt, w, h, feats = _feature_row(payload, fake)
                rows.append(
                    (
                        ref,
                        kind,
                        fmt,
                        len(payload),
                        hashlib.sha1(payload).hexdigest(),
                        w,
                        h,
                        feats,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "kind", "format", "n_bytes", "sha1",
                    "width", "height", "features",
                ],
            )

    return run


def extract_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """Media table -> feature table via an Arrow-batched kernel: real
    decode for BMP/PPM/PGM/WAV payloads, 16-dim typed features per row.
    Binary payloads are fat rows: callers should keep Arrow batches small
    (the session default) and pre-repartition by ``media_ref`` hash when
    payload sizes are skewed."""
    return media.select("media_ref", "kind", "payload").mapInPandas(
        _feature_kernel(fake), schema=FEATURE_SCHEMA_DDL
    )


def _per_payload(media: DataFrame, schema: str, fn) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` pass over (media_ref, payload):
    ``fn(payload bytes)`` returns the row's remaining columns as a tuple,
    or None to skip the payload. ``schema`` is the output DDL, media_ref
    first."""
    cols = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                out = fn(bytes(payload) if payload is not None else b"")
                if out is not None:
                    rows.append((ref, *out))
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_ref", "payload").mapInPandas(run, schema=schema)


THUMB_SCHEMA_DDL = "media_ref string, format string, thumb binary"


def resize_images(media: DataFrame, height: int = 8, width: int = 8) -> DataFrame:
    """Image payloads -> nearest-neighbor thumbnails re-encoded as PPM
    (a real decode -> transform -> encode pipeline, all in-kernel)."""

    def thumb(payload: bytes):
        fmt, img = _decode_image(payload)
        if img is None:
            return None  # image-only op
        return fmt, encode_ppm(resize_nearest(img, height, width))

    return _per_payload(media, THUMB_SCHEMA_DDL, thumb)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Plumbing for video frame sampling: emits (media_ref, frame_idx)
    rows for a stub frame index — video containers need codec libraries
    not in this environment, so the count source is the one stubbed
    piece. Demonstrates the explode-shape the pipeline uses."""
    from pyspark.sql import functions as F

    n_frames = F.pmod(F.xxhash64("media_ref"), F.lit(300)) + 1  # stub count
    return media.select(
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), (n_frames / every_n).cast("int") * every_n, F.lit(every_n))
        ).alias("frame_idx"),
    )


# ---------------------------------------------------------------------------
# perceptual hashing / image near-dup

DHASH_SCHEMA_DDL = "media_ref string, dhash_hi long, dhash_lo long, height int, width int"


def _words64(bits: np.ndarray) -> tuple[int, int]:
    """64 bits, index 0 first -> two 32-bit words, MSB-first: hi = bits
    0-31, lo = bits 32-63. Both words stay positive in every engine,
    which sidesteps signed-64 portability; hamming distance is
    bit_count(xor(hi)) + bit_count(xor(lo))."""
    hi, lo = np.packbits(bits).view(">u4")
    return int(hi), int(lo)


def dhash_bits(img: np.ndarray) -> tuple[int, int]:
    """64-bit difference hash (dHash — Krawetz 2013, public knowledge)
    of one decoded image, returned as two 32-bit words (hi = bits of
    rows 0-3, lo = rows 4-7; bit index y*8+x, MSB-first within each
    word — see :func:`_words64`). Gray = integer mean of the channels;
    downsample = the shared nearest-neighbor resize to 8x9; bit = left
    pixel strictly brighter than its right neighbor."""
    if img.ndim == 3:
        gray = img.astype(np.uint32).sum(axis=2) // img.shape[2]
    else:
        gray = img.astype(np.uint32)
    small = resize_nearest(gray, 8, 9)
    return _words64((small[:, :8] > small[:, 1:]).reshape(-1))


def image_dhash(media: DataFrame) -> DataFrame:
    """Per-image perceptual hash table: decode (real BMP/PPM/PGM
    codecs), gray-downsample, dHash — one Arrow-batched kernel pass,
    skipping non-image payloads. Returns
    (media_ref, dhash_hi, dhash_lo, height, width)."""

    def dhash(payload: bytes):
        _, img = _decode_image(payload)
        if img is None:
            return None
        return (*dhash_bits(img), img.shape[0], img.shape[1])

    return _per_payload(media, DHASH_SCHEMA_DDL, dhash)


def _near_dups(
    signature, words: list[str], media: DataFrame, max_hamming: int,
    max_bucket_size: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(signature table, verified pairs) for one 64-bit media signature:
    ``max_hamming`` is checked before ``media`` is touched, the
    ``signature(media)`` table is localCheckpoint-ed (banding, both
    hamming joins and the cluster vertices reference it, and
    uncheckpointed lineage would re-decode the corpus per reference),
    then :func:`dedup.banded_hamming_pairs` over its two ``words``."""
    check_max_hamming(max_hamming, len(words))
    sigs = signature(media).select("media_ref", *words).localCheckpoint()
    return sigs, banded_hamming_pairs(
        sigs, "media_ref", words, max_hamming, max_bucket_size,
        out_a="ref_a", out_b="ref_b",
    )


def _clusters(sigs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components of the near-dup pairs with min-ref labels,
    every signature row a vertex: (media_ref, cluster_rep)."""
    # connected_components names its output (doc_id, cluster_rep)
    # regardless of id_col — map back to the media key
    return connected_components(
        sigs.select("media_ref"),
        pairs.select(F.col("ref_a").alias("doc_a"), F.col("ref_b").alias("doc_b")),
        id_col="media_ref",
    ).select(
        F.col("doc_id").alias("media_ref"),
        F.col("cluster_rep").cast("string").alias("cluster_rep"),
    )


_DHASH_WORDS = ["dhash_hi", "dhash_lo"]


def image_near_dups(
    media: DataFrame,
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs over the dHash signature — the visual
    twin of ``dedup.simhash_pairs``: band the 64-bit hash into 8
    byte-bands, pair images sharing ANY band (pigeonhole: hamming <= 7
    implies at least one identical band, so ``max_hamming`` outside
    [0, 7] raises ``ValueError``), verify by exact hamming
    ``<= max_hamming``. Returns (ref_a, ref_b, hamming), ref_a < ref_b.

    Scale shape: ONE Python decode pass over a checkpointed signature
    table, then ``dedup.banded_hamming_pairs`` — the shared
    ``bucket_pairs`` band machinery (never all-pairs, chain-cap
    available) and an id-keyed join back for hamming in whole-stage
    codegen. At 10^10 images a byte-band still buckets n/256 per band
    value — production sets ``max_bucket_size`` exactly like the text
    paths."""
    return _near_dups(
        image_dhash, _DHASH_WORDS, media, max_hamming, max_bucket_size
    )[1]


def image_clusters(
    media: DataFrame,
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup image clusters: dHash band pairs -> connected
    components with min-ref labels — the cross-modal dedup unit ("these
    N pages carry the same image") that catches duplicates text MinHash
    structurally cannot see (same photo, rewritten caption). Returns
    (media_ref, cluster_rep) for every IMAGE payload; singletons are
    their own rep.

    Scale shape: the :func:`image_near_dups` plan (its checkpointed
    signature table also supplies the component vertices), then
    dedup.connected_components' O(log diameter) pointer jumping — the
    same plan as the text paths, keyed by media_ref strings."""
    return _clusters(
        *_near_dups(image_dhash, _DHASH_WORDS, media, max_hamming, max_bucket_size)
    )


# ---------------------------------------------------------------------------
# audio fingerprinting (frame-energy sign bits — the acoustic twin of dHash)

AFP_FRAMES = 65  # 65 frame energies -> 64 consecutive-frame sign bits

AFP_SCHEMA_DDL = (
    "media_ref string, afp_hi long, afp_lo long, "
    "n_samples int, sample_rate int"
)


def afp_bits(samples_i16: np.ndarray) -> tuple[int, int]:
    """64-bit audio fingerprint of one mono int16 sample array: split
    the stream into ``AFP_FRAMES`` equal frames (tail truncated),
    frame energy = integer sum of absolute amplitudes, bit k = frame k
    strictly louder than frame k+1. This is the frame-energy-contour
    scheme of Haitsma & Kalker's 'Highly robust audio fingerprinting'
    (2002) reduced to one band — public knowledge, all-integer, so a
    SQL oracle reproduces it bit-for-bit. Layout mirrors
    :func:`dhash_bits`: hi = bits 0-31 MSB-first, lo = bits 32-63,
    both words positive in every engine."""
    n = samples_i16.shape[0]
    flen = n // AFP_FRAMES
    if flen == 0:
        raise ValueError(f"need >= {AFP_FRAMES} samples, got {n}")
    used = samples_i16[: flen * AFP_FRAMES].astype(np.int64)
    energy = np.abs(used).reshape(AFP_FRAMES, flen).sum(axis=1)
    return _words64(energy[:-1] > energy[1:])


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Per-clip acoustic fingerprint table: decode (real 16-bit PCM WAV
    codec), integer-mean down to mono, frame-energy sign bits — one
    Arrow-batched kernel pass, skipping non-WAV payloads and clips too
    short for the 65-frame grid. Returns
    (media_ref, afp_hi, afp_lo, n_samples, sample_rate)."""

    def fingerprint(payload: bytes):
        if sniff_format(payload) != "wav":
            return None
        x, rate = decode_wav(payload)
        # decode_wav scales by 1/32767; rint recovers the exact int16
        # (|v| <= 32767 has 15 bits, float32 carries 24)
        ints = np.rint(x * 32767.0).astype(np.int64)
        mono = ints.sum(axis=1) // ints.shape[1]
        if mono.shape[0] < AFP_FRAMES:
            return None
        return (*afp_bits(mono), mono.shape[0], rate)

    return _per_payload(media, AFP_SCHEMA_DDL, fingerprint)


_AFP_WORDS = ["afp_hi", "afp_lo"]


def audio_near_dups(
    media: DataFrame,
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Audio near-duplicate pairs over the frame-energy fingerprint —
    the acoustic twin of :func:`image_near_dups`: 8 byte-bands over the
    64-bit fingerprint (pigeonhole: hamming <= 7 implies a shared
    band, so ``max_hamming`` outside [0, 7] raises ``ValueError``), pair
    clips sharing ANY band, verify by exact hamming ``<= max_hamming``.
    Returns (ref_a, ref_b, hamming), ref_a < ref_b.

    Scale shape: identical to the image path — one Python decode pass
    over a checkpointed signature table, then
    ``dedup.banded_hamming_pairs`` (never all-pairs, chain-cap via
    ``max_bucket_size``, hamming verification in whole-stage
    codegen)."""
    return _near_dups(
        audio_fingerprint, _AFP_WORDS, media, max_hamming, max_bucket_size
    )[1]


def audio_clusters(
    media: DataFrame,
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup audio clusters: fingerprint band pairs -> connected
    components with min-ref labels, exactly :func:`image_clusters`
    over the acoustic signature. Returns (media_ref, cluster_rep) for
    every WAV payload; singletons are their own rep."""
    return _clusters(
        *_near_dups(audio_fingerprint, _AFP_WORDS, media, max_hamming, max_bucket_size)
    )
