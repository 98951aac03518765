"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image and audio METADATA decode are REAL (imagehdr.py / audiohdr.py,
pure stdlib), and so are PNG/GIF/BMP PIXEL decode (pixeldec.py: zlib
inflate + unfilter / LZW / raw BGR), the nearest-neighbor RESIZE over
those pixels, and PCM WAV SAMPLE decode (audiohdr.py raw int16 frames)
— all running over committed binary fixtures of real files
(refdata/*_fixture.parquet, tools/gen_*_fixture.py). Baseline JPEG
pixels decode for real too (jpegdec.py: Huffman entropy decode +
dequant + IDCT; the fixture's files are DC-only-quantized so the
lossy codec stays bit-exactly oracle-checkable). Out of scope by
honest necessity: progressive/subsampled JPEG variants and
psychoacoustic audio codecs (MP3/AAC) — those raise rather than mis-decode; FLAC decodes for real (flacdec.py).
Non-media payload paths keep deterministic length-derived fallbacks
so plumbing entries stay oracle-checkable on arbitrary bytes.

At 100 TB: payloads stay opaque ``binary`` columns in parquet;
``mapInPandas`` processes Arrow batches (no per-row Python overhead);
decode CPU dominates, so you repartition by payload-size salting to
balance, never by collect.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from .audiohdr import decode_wav_samples, parse_wav_header
from .flacdec import FLAC_MAGIC, decode_flac_samples, parse_flac_streaminfo
from .imagehdr import parse_image_header
from . import pixeldec

IMAGE_FEATURES_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, width BIGINT, height BIGINT, "
    "channels BIGINT, aspect DOUBLE"
)

AUDIO_FEATURES_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, n_frames BIGINT, sample_rate BIGINT, "
    "channels BIGINT, duration_s DOUBLE"
)


def decode_image_pixels(data: bytes):
    """Full pixel decode — REAL for PNG/GIF/BMP/baseline-JPEG
    (pixeldec.py + jpegdec.py, stdlib zlib/struct + numpy):
    (fmt, width, height, channels, row-major pixel bytes). Raises
    ValueError for unrecognized/corrupt payloads and for JPEG variants
    beyond baseline 4:4:4 (progressive, subsampled)."""
    return pixeldec.decode_image_pixels(data)


def _parse_audio_header(data: bytes):
    """(sample_rate, channels, bits, n_frames) from the RIFF/WAVE
    container (audiohdr.py) or the FLAC STREAMINFO block (flacdec.py),
    or ``None`` — the one WAV-then-FLAC dispatch every header consumer
    shares."""
    hdr = parse_wav_header(data)
    if hdr is None and bytes(data[:4]) == FLAC_MAGIC:
        hdr = parse_flac_streaminfo(data)
    return hdr


def decode_audio(data: bytes):
    """Sample-level audio decode — REAL for 16-bit PCM WAV (the data
    chunk IS the samples) and 4-24-bit FLAC (a real lossless decoder:
    fixed/LPC prediction + Rice residuals, flacdec.py):
    (sample_rate, channels, int ndarray of shape (n_frames, channels)
    — int16, or int32 for 20/24-bit FLAC). Raises ValueError for other
    codecs (MP3/AAC/... genuinely need psychoacoustic codec
    libraries)."""
    if bytes(data[:4]) == FLAC_MAGIC:
        return decode_flac_samples(data)
    return decode_wav_samples(data)


def fake_image_features(data: bytes) -> tuple[int, int, int, int, float]:
    """Deterministic fake 'decode': metadata derived from payload length
    only, so it's reproducible in SQL (octet_length arithmetic)."""
    n = len(data)
    width = n % 640 + 1
    height = n % 480 + 1
    return n, width, height, 3, width / height


def image_features(data: bytes) -> tuple[int, int, int, int, float]:
    """(n_bytes, width, height, channels, aspect): REAL header parse for
    recognized image payloads; length-derived deterministic fake for
    anything else (keeps the plumbing entries that feed text bytes
    through this path oracle-checkable)."""
    hdr = parse_image_header(data)
    if hdr is None:
        return fake_image_features(data)
    _, width, height, channels = hdr
    return len(data), width, height, channels, width / height


def image_features_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (doc_id, payload binary) → IMAGE_FEATURES_SCHEMA.
    Operates on whole Arrow batches; Python cost is one vectorized pass."""
    for pdf in batches:
        feats = pdf["payload"].map(image_features)
        out = pd.DataFrame(
            feats.tolist(),
            columns=["n_bytes", "width", "height", "channels", "aspect"],
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def audio_features(data: bytes) -> tuple[int, int, int, int, float]:
    """(n_bytes, n_frames, sample_rate, channels, duration_s): REAL
    RIFF/fmt/data header parse for WAV payloads and STREAMINFO parse
    for FLAC; the legacy length-derived fake (channels fixed at 1)
    for anything else, so non-audio bytes still flow through the
    plumbing deterministically."""
    hdr = _parse_audio_header(data)
    if hdr is None:
        n = len(data)
        frames = n // 1024 + 1
        return n, frames, 16000, 1, frames * 1024 / 16000.0
    sample_rate, channels, _bits, n_frames = hdr
    return len(data), n_frames, sample_rate, channels, n_frames / sample_rate


def audio_features_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (doc_id, payload binary) → AUDIO_FEATURES_SCHEMA.
    Operates on whole Arrow batches; Python cost is one vectorized pass."""
    for pdf in batches:
        feats = pdf["payload"].map(audio_features)
        out = pd.DataFrame(
            feats.tolist(),
            columns=["n_bytes", "n_frames", "sample_rate", "channels", "duration_s"],
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


RESIZE_SCHEMA = (
    "doc_id BIGINT, fmt STRING, width BIGINT, height BIGINT, "
    "channels BIGINT, out_width BIGINT, out_height BIGINT, "
    "resized_crc32 BIGINT"
)

RESIZE_TARGET = 256


def resize_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: REAL decode + resize. Each payload is pixel-
    decoded (pixeldec.py: PNG inflate+unfilter / GIF LZW / BMP raw /
    baseline-JPEG Huffman+IDCT), nearest-neighbor-resized to fit
    RESIZE_TARGET on the long edge, and reported with the CRC-32 of
    the resized pixel bytes — the checksum an independent
    implementation of decode+resize must reproduce. Undecodable
    payloads are skipped; the batch shape stays
    one-in/at-most-one-out per row."""
    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, payload in zip(pdf["doc_id"].values, pdf["payload"].values):
            try:
                fmt, w, h, ch, px = pixeldec.decode_image_pixels(payload)
            except ValueError:
                continue
            out_w, out_h = pixeldec.fit_dims(w, h, RESIZE_TARGET)
            resized = pixeldec.resize_nearest(px, w, h, ch, out_w, out_h)
            crc = zlib.crc32(resized) & 0xFFFFFFFF
            rows.append((doc_id, fmt, w, h, ch, out_w, out_h, crc))
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "fmt",
                "width",
                "height",
                "channels",
                "out_width",
                "out_height",
                "resized_crc32",
            ],
        )


ORIENTED_RESIZE_SCHEMA = (
    "doc_id BIGINT, fmt STRING, orientation BIGINT, out_width BIGINT, "
    "out_height BIGINT, resized_crc32 BIGINT"
)


def oriented_resize_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: EXIF-AWARE decode + resize — the upright
    pipeline a training set actually wants (a resize that ignores tag
    0x0112 trains on sideways images). Pixels decode exactly like
    resize_map; the EXIF orientation (default 1 when absent) uprights
    the (h, w, c) array FIRST (exifmeta.apply_orientation), so
    orientations 5-8 swap the output dims; then the same fit-to-256
    nearest-neighbor resample and CRC-32. Undecodable payloads are
    skipped."""
    from .exifmeta import apply_orientation, parse_exif

    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, payload in zip(pdf["doc_id"].values, pdf["payload"].values):
            try:
                fmt, w, h, ch, px = pixeldec.decode_image_pixels(payload)
            except ValueError:
                continue
            exif = parse_exif(payload) or {}
            ori = exif.get("orientation", 1)
            arr = np.frombuffer(px, np.uint8).reshape(h, w, ch)
            arr = np.ascontiguousarray(apply_orientation(arr, ori))
            oh, ow = arr.shape[0], arr.shape[1]
            out_w, out_h = pixeldec.fit_dims(ow, oh, RESIZE_TARGET)
            resized = pixeldec.resize_nearest(
                arr.tobytes(), ow, oh, ch, out_w, out_h
            )
            crc = zlib.crc32(resized) & 0xFFFFFFFF
            rows.append((doc_id, fmt, ori, out_w, out_h, crc))
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "fmt", "orientation", "out_width", "out_height",
                "resized_crc32",
            ],
        )


VIDEO_FEATURES_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, width BIGINT, height BIGINT, "
    "n_frames BIGINT, usec_per_frame BIGINT, duration_s DOUBLE"
)


def video_features_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: REAL video-metadata decode — geometry, frame
    count, and frame timing from the AVI chunk tree (videohdr.py:
    parse_avi); duration is the one fixed-shape float (n_frames *
    usec / 1e6). Non-AVI payloads are skipped."""
    from .videohdr import parse_avi

    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, payload in zip(pdf["doc_id"].values, pdf["payload"].values):
            parsed = parse_avi(payload)
            if parsed is None:
                continue
            width, height, usec, frames = parsed
            n_frames = len(frames)
            rows.append(
                (
                    doc_id,
                    len(payload),
                    width,
                    height,
                    n_frames,
                    usec,
                    n_frames * usec / 1_000_000.0,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "n_bytes",
                "width",
                "height",
                "n_frames",
                "usec_per_frame",
                "duration_s",
            ],
        )


VIDEO_FRAMES_SCHEMA = (
    "doc_id BIGINT, frame_idx BIGINT, byte_offset BIGINT, "
    "frame_crc32 BIGINT"
)

VIDEO_SAMPLE_EVERY = 3


def video_frames_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body, one→many: REAL frame sampling. Each payload's
    RIFF chunk tree is walked (videohdr.py:parse_avi — LIST hdrl for
    geometry, LIST movi for frame placement); every VIDEO_SAMPLE_EVERY-th
    frame is pixel-decoded — uncompressed DIB ('00db': bottom-up BGR →
    RGB) or MJPEG ('00dc': a complete baseline JPEG per frame through
    jpegdec) — and reported with its container byte offset and the
    CRC-32 of the decoded RGB pixels. Non-AVI payloads are skipped. Row-expanding with bounded memory:
    one output batch per input batch, rows ∝ sampled frames."""
    from .videohdr import decode_frame_pixels, parse_avi

    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, payload in zip(pdf["doc_id"].values, pdf["payload"].values):
            parsed = parse_avi(payload)
            if parsed is None:
                continue
            width, height, _usec, frames = parsed
            for fi in range(0, len(frames), VIDEO_SAMPLE_EVERY):
                off, size, compressed = frames[fi]
                try:
                    rgb = decode_frame_pixels(
                        payload[off : off + size], width, height, compressed
                    )
                except ValueError:
                    continue  # truncated frame / undecodable codec
                rows.append((doc_id, fi, off, zlib.crc32(rgb) & 0xFFFFFFFF))
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_idx", "byte_offset", "frame_crc32"]
        )


IMAGE_METADATA_SCHEMA = (
    "doc_id BIGINT, fmt STRING, orientation BIGINT, x_dpi BIGINT, "
    "y_dpi BIGINT, exif_datetime STRING"
)


def image_metadata_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: REAL container metadata decode — image format
    from the magic-byte header walk plus EXIF IFD0 fields (orientation,
    DPI, capture datetime) from the APP1 TIFF blob where present
    (multimodal/exifmeta.py; both II and MM byte orders). The pass a
    training pipeline runs before any pixel work: tag 0x0112 decides
    whether decode output needs a rotate/flip. EXIF-less payloads keep
    their row with NULL metadata (metadata is a side-channel, not a
    gate); unrecognized payloads are skipped like the other decode
    maps."""
    from .exifmeta import parse_exif

    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, payload in zip(pdf["doc_id"].values, pdf["payload"].values):
            hdr = parse_image_header(payload)
            if hdr is None:
                continue
            exif = parse_exif(payload) or {}
            rows.append(
                (
                    doc_id,
                    hdr[0],
                    exif.get("orientation"),
                    exif.get("x_dpi"),
                    exif.get("y_dpi"),
                    exif.get("datetime"),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "fmt", "orientation", "x_dpi", "y_dpi",
                "exif_datetime",
            ],
        )


AUDIO_LOUDNESS_SCHEMA = (
    "doc_id BIGINT, n_samples BIGINT, peak BIGINT, sum_sq BIGINT, "
    "rms DOUBLE"
)


def audio_loudness_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: REAL sample decode. Integer frames come out
    of the RIFF data chunk (audiohdr.py:decode_wav_samples) or the
    FLAC frame stream (flacdec.py — fixed/LPC prediction + Rice
    residuals, a real lossless decode; 16-bit int16 or 20/24-bit
    int32); loudness stats are exact integers
    (peak = max |s|, sum_sq = Σ s² in int64) so an independent record
    reproduces them bit-for-bit; rms is the one fixed-shape float
    (sqrt of a ratio of exact ints). Payloads that are neither
    (MP3/AAC/corrupt bytes) are skipped — the same
    one-in/at-most-one-out contract as the other decode maps."""
    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, payload in zip(pdf["doc_id"].values, pdf["payload"].values):
            try:
                _rate, _ch, samples = decode_audio(payload)
            except ValueError:
                continue  # psychoacoustic codec / corrupt bytes: skip
            flat = samples.astype(np.int64).ravel()
            n = int(flat.size)
            peak = int(np.abs(flat).max(initial=0))
            # Exact Σs² without int64 overflow (review r13): a 32-bit
            # sample squares to ~4.6e18 — two of them exceed int64 —
            # and 24-bit overflows after ~131k full-scale samples. Dot
            # within chunks sized so each PARTIAL sum provably fits,
            # then fold the partials in Python arbitrary-precision int.
            if n:
                chunk = max(1, (2**63 - 1) // (peak * peak + 1))
                sum_sq = sum(
                    int(np.dot(c, c))
                    for c in np.array_split(flat, range(chunk, n, chunk))
                )
            else:
                sum_sq = 0
            rms = float((sum_sq / n) ** 0.5) if n else 0.0
            rows.append((doc_id, n, peak, sum_sq, rms))
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_samples", "peak", "sum_sq", "rms"]
        )
