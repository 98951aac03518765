"""Multimodal-column queries: binary payload → mapInPandas decode over
committed fixtures of REAL media files (refdata/*_fixture.parquet) —
image header + pixel decode, PCM sample decode, AVI container walk +
frame decode, all stdlib (multimodal/{imagehdr,pixeldec,audiohdr,
videohdr}.py). Every oracle reads the fixture generator's encode-time
expectation columns, so parity pits the Spark decode path against an
independent record of what was encoded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..multimodal import codec as MM
from ..multimodal.codec import (
    AUDIO_FEATURES_SCHEMA,
    IMAGE_FEATURES_SCHEMA,
    audio_features_map,
    image_features_map,
)
from ..registry import register
from ..sources.catalog import REFDATA_DIR, load_table, read_parquet


# Committed binary fixture of REAL image files (PNG/GIF/BMP/JPEG built
# by stdlib struct/zlib — tools/gen_image_fixture.py), one per doc_id,
# with the encode-time dimensions stored as exp_* columns. The Spark
# side PARSES the bytes (multimodal/imagehdr.py); the oracle reads the
# exp_* record of what was encoded — an independent check of the parse.
_IMAGE_FIXTURE_PARQUET = os.path.join(REFDATA_DIR, "image_fixture.parquet")


def _image_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fixture = read_parquet(spark, _IMAGE_FIXTURE_PARQUET).select("doc_id", "payload")
    # Inner join scopes the fixture (doc_id 0..4999) to the sf's docs.
    return fixture.join(docs, "doc_id")


@register(
    "multimodal_image_features",
    oracle=f"""
WITH f AS (
    SELECT doc_id, octet_length(payload) AS n, exp_width, exp_height,
           exp_channels
    FROM read_parquet('{_IMAGE_FIXTURE_PARQUET}')
    WHERE doc_id IN (SELECT doc_id FROM documents)
)
SELECT doc_id, n::BIGINT AS n_bytes,
       exp_width::BIGINT AS width,
       exp_height::BIGINT AS height,
       exp_channels::BIGINT AS channels,
       CAST(exp_width AS DOUBLE) / exp_height AS aspect
FROM f
""",
    doc="REAL image-metadata decode: committed PNG/GIF/BMP/JPEG payloads "
    "(refdata/image_fixture.parquet) → Arrow-batched mapInPandas parsing "
    "width/height/channels from magic bytes (multimodal/imagehdr.py, "
    "stdlib struct/zlib). The oracle reads the encode-time dimensions "
    "recorded by the fixture generator, so parity verifies the parse "
    "against an independent record. Pixel-level decode is REAL too, "
    "for all four formats — see multimodal_image_resize.",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_payloads(spark, sf_dir).mapInPandas(
        image_features_map, schema=IMAGE_FEATURES_SCHEMA
    )


@register(
    "multimodal_image_metadata",
    oracle=f"""
SELECT doc_id, fmt,
       exp_orientation::BIGINT AS orientation,
       exp_x_dpi::BIGINT AS x_dpi,
       exp_y_dpi::BIGINT AS y_dpi,
       exp_datetime AS exif_datetime
FROM read_parquet('{_IMAGE_FIXTURE_PARQUET}')
WHERE doc_id IN (SELECT doc_id FROM documents)
""",
    doc="REAL EXIF metadata decode (r13): APP1 TIFF IFD0 walk — "
    "orientation (tag 0x0112, the rotate/flip a correct pixel pipeline "
    "must honor), X/Y resolution (RATIONAL, unit-converted), capture "
    "datetime — in BOTH TIFF byte orders (II and MM, both present in "
    "the committed fixture on alternating EXIF docs); EXIF-less "
    "payloads keep their row with NULL metadata. Arrow-batched "
    "mapInPandas over multimodal/exifmeta.py (pure struct, bounds-"
    "checked; malformed TIFF inside a present APP1 degrades to NULLs "
    "rather than poisoning the batch). The oracle reads the "
    "generator's encode-time record, so parity pits the IFD walk "
    "against an independent derivation.",
    tags=("multimodal", "pandas-udf", "exif"),
)
def multimodal_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.codec import IMAGE_METADATA_SCHEMA, image_metadata_map

    return _image_payloads(spark, sf_dir).mapInPandas(
        image_metadata_map, schema=IMAGE_METADATA_SCHEMA
    )


@register(
    "multimodal_image_resize_oriented",
    oracle=f"""
SELECT doc_id, fmt,
       exp_eff_orientation::BIGINT AS orientation,
       exp_oriented_out_width::BIGINT AS out_width,
       exp_oriented_out_height::BIGINT AS out_height,
       exp_oriented_crc32::BIGINT AS resized_crc32
FROM read_parquet('{_IMAGE_FIXTURE_PARQUET}')
WHERE doc_id IN (SELECT doc_id FROM documents)
""",
    doc="EXIF-AWARE decode + resize (r13): the upright pipeline a "
    "training set actually wants — a resize that ignores orientation "
    "tag 0x0112 trains on sideways images. Full pixel decode as in "
    "multimodal_image_resize, then exifmeta.apply_orientation uprights "
    "the array (orientations 5-8 swap the output dims) before the "
    "fit-to-256 nearest resample and CRC-32. The oracle reads the "
    "generator's record, which orients the FORMULA pixels with its own "
    "inline restatement of the 1-8 mapping — so parity proves the "
    "whole decode + EXIF-parse + orient + resample chain "
    "byte-for-byte, across both TIFF byte orders and all planted "
    "orientations.",
    tags=("multimodal", "pandas-udf", "exif"),
)
def multimodal_image_resize_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.codec import ORIENTED_RESIZE_SCHEMA, oriented_resize_map

    return _image_payloads(spark, sf_dir).mapInPandas(
        oriented_resize_map, schema=ORIENTED_RESIZE_SCHEMA
    )


# Committed WAV fixture — same discipline as the image fixture above:
# real PCM files built by stdlib struct (tools/gen_audio_fixture.py),
# encode-time parameters recorded as exp_* columns the oracle reads.
_AUDIO_FIXTURE_PARQUET = os.path.join(REFDATA_DIR, "audio_fixture.parquet")


@register(
    "multimodal_audio_features",
    oracle=f"""
WITH f AS (
    SELECT doc_id, octet_length(payload) AS n, exp_sample_rate,
           exp_channels, exp_n_frames
    FROM read_parquet('{_AUDIO_FIXTURE_PARQUET}')
    WHERE doc_id IN (SELECT doc_id FROM documents)
)
SELECT doc_id, n::BIGINT AS n_bytes,
       exp_n_frames::BIGINT AS n_frames,
       exp_sample_rate::BIGINT AS sample_rate,
       exp_channels::BIGINT AS channels,
       CAST(exp_n_frames AS DOUBLE) / exp_sample_rate AS duration_s
FROM f
""",
    doc="REAL audio-metadata decode over a MIXED-codec fixture: PCM "
    "WAV payloads parse via the RIFF/fmt/data chunk walk "
    "(multimodal/audiohdr.py, stdlib struct; builder validated "
    "against the stdlib wave module) and the compressed quarter "
    "(every 4th doc is a real FLAC stream) via the STREAMINFO block "
    "(multimodal/flacdec.py). The oracle reads the encode-time record "
    "written by the fixture generator, so parity verifies both parses "
    "independently. Sample-level decode is REAL for both codecs — see "
    "multimodal_audio_loudness (only psychoacoustic codecs like "
    "MP3/AAC remain out of stdlib scope).",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fixture = read_parquet(spark, _AUDIO_FIXTURE_PARQUET).select("doc_id", "payload")
    return fixture.join(docs, "doc_id").mapInPandas(
        audio_features_map, schema=AUDIO_FEATURES_SCHEMA
    )


@register(
    "multimodal_image_resize",
    oracle=f"""
SELECT doc_id, fmt,
       exp_width::BIGINT AS width,
       exp_height::BIGINT AS height,
       exp_channels::BIGINT AS channels,
       exp_out_width::BIGINT AS out_width,
       exp_out_height::BIGINT AS out_height,
       exp_resized_crc32::BIGINT AS resized_crc32
FROM read_parquet('{_IMAGE_FIXTURE_PARQUET}')
WHERE doc_id IN (SELECT doc_id FROM documents)
""",
    doc="REAL pixel decode + resize over ALL FOUR formats: committed "
    "PNG/GIF/BMP/JPEG payloads are fully decoded (multimodal/"
    "pixeldec.py + jpegdec.py — zlib inflate + all five PNG row "
    "filters / GIF LZW / BMP raw BGR / baseline-JPEG Huffman + IDCT, "
    "stdlib+numpy only), nearest-neighbor resized to fit 256 on the "
    "long edge, and checksummed. The oracle reads the generator's "
    "encode-time record — out dims AND the CRC-32 of the resized "
    "pixels, derived from the pattern formulas without touching "
    "payload bytes — so parity proves the whole decode+resample path "
    "byte-for-byte. The fixture JPEGs are real Huffman-coded baseline "
    "files quantized to DC-only blocks, making their decoded pixels "
    "exact (dc*q divisible by 8) — the construction that keeps a "
    "lossy codec oracle-checkable.",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_payloads(spark, sf_dir).mapInPandas(
        MM.resize_map, schema=MM.RESIZE_SCHEMA
    )


# Committed AVI fixture + the generator's sampled-frame expectation
# table (byte offsets from the builder's serialization arithmetic,
# pixel CRCs from the pattern formula — tools/gen_video_fixture.py).
_VIDEO_FIXTURE_PARQUET = os.path.join(REFDATA_DIR, "video_fixture.parquet")
_VIDEO_FRAMES_EXPECTED_PARQUET = os.path.join(REFDATA_DIR, "video_frames_expected.parquet")


@register(
    "multimodal_video_features",
    oracle=f"""
SELECT doc_id, octet_length(payload)::BIGINT AS n_bytes,
       exp_width::BIGINT AS width,
       exp_height::BIGINT AS height,
       exp_n_frames::BIGINT AS n_frames,
       exp_usec_per_frame::BIGINT AS usec_per_frame,
       exp_n_frames * exp_usec_per_frame / 1000000.0 AS duration_s
FROM read_parquet('{_VIDEO_FIXTURE_PARQUET}')
WHERE doc_id IN (SELECT doc_id FROM documents)
""",
    doc="REAL video-metadata decode: committed AVI payloads "
    "(refdata/video_fixture.parquet) → Arrow mapInPandas walking the "
    "RIFF chunk tree (multimodal/videohdr.py: LIST hdrl → avih for "
    "geometry/timing, LIST movi for the authoritative frame count) — "
    "the metadata pass a training pipeline runs before any frame "
    "extraction, completing the features/content symmetry across all "
    "three modalities. The oracle reads the generator's encode-time "
    "record, so parity verifies the parse independently.",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fixture = read_parquet(spark, _VIDEO_FIXTURE_PARQUET).select("doc_id", "payload")
    return fixture.join(docs, "doc_id").mapInPandas(
        MM.video_features_map, schema=MM.VIDEO_FEATURES_SCHEMA
    )


@register(
    "multimodal_video_frames",
    oracle=f"""
SELECT doc_id, frame_idx, byte_offset, frame_crc32
FROM read_parquet('{_VIDEO_FRAMES_EXPECTED_PARQUET}')
WHERE doc_id IN (SELECT doc_id FROM documents)
""",
    doc="REAL video frame sampling (one-to-many mapInPandas): committed "
    "AVI payloads (refdata/video_fixture.parquet — RIFF container, "
    "uncompressed 24-bit DIB frames, tools/gen_video_fixture.py) have "
    "their chunk tree walked (multimodal/videohdr.py: LIST hdrl → avih "
    f"geometry, LIST movi → frame chunks); every {MM.VIDEO_SAMPLE_EVERY}rd "
    "frame is pixel-decoded (bottom-up BGR → RGB) and reported with its "
    "container byte offset + decoded-pixel CRC-32. The oracle reads the "
    "generator's expectation table: offsets recorded at serialization "
    "time, CRCs derived from the pattern formula — the Spark side must "
    "parse the actual container to match.",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fixture = read_parquet(spark, _VIDEO_FIXTURE_PARQUET).select("doc_id", "payload")
    return fixture.join(docs, "doc_id").mapInPandas(
        MM.video_frames_map, schema=MM.VIDEO_FRAMES_SCHEMA
    )


@register(
    "multimodal_audio_loudness",
    oracle=f"""
SELECT doc_id,
       (exp_n_frames * exp_channels)::BIGINT AS n_samples,
       exp_peak::BIGINT AS peak,
       exp_sum_sq::BIGINT AS sum_sq,
       round(sqrt(exp_sum_sq::DOUBLE / (exp_n_frames * exp_channels)), 4) AS rms
FROM read_parquet('{_AUDIO_FIXTURE_PARQUET}')
WHERE doc_id IN (SELECT doc_id FROM documents)
""",
    doc="REAL audio sample decode, BOTH codecs: PCM WAV's data chunk "
    "IS the samples (audiohdr.py:decode_wav_samples — RIFF walk + "
    "int16 reinterpretation), and the fixture's compressed quarter "
    "decodes through a real FLAC decoder (flacdec.py — fixed/LPC "
    "prediction + Rice-coded residuals, stereo decorrelation, CRC-"
    "verified frames; lossless, so sample-exact). Loudness stats are "
    "exact integers (peak = max |s|, sum_sq = Σ s² in int64), rms the "
    "one fixed-shape float, rounded to 4 dp on both sides per "
    "registry convention. The oracle reads peak/sum_sq the generator "
    "derived from the waveform FORMULA (never parsing or decoding a "
    "payload), so parity proves the container walk + entropy decode + "
    "prediction reconstruction bit-exactly. Psychoacoustic codecs "
    "(MP3/AAC) stay out of scope — they genuinely need audio "
    "libraries.",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_audio_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fixture = read_parquet(spark, _AUDIO_FIXTURE_PARQUET).select("doc_id", "payload")
    out = fixture.join(docs, "doc_id").mapInPandas(
        MM.audio_loudness_map, schema=MM.AUDIO_LOUDNESS_SCHEMA
    )
    return out.withColumn("rms", F.round("rms", 4))


@register(
    "multimodal_curation_filter",
    oracle=f"""
WITH img AS (
    SELECT doc_id, CAST(exp_width AS DOUBLE) / exp_height AS aspect
    FROM read_parquet('{_IMAGE_FIXTURE_PARQUET}')
),
txt AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '[ \t\n]+'), x -> len(x) > 0))::BIGINT AS n_tokens
    FROM documents
)
SELECT i.doc_id, t.n_tokens, i.aspect
FROM img i JOIN txt t ON t.doc_id = i.doc_id
WHERE t.n_tokens >= 20 AND i.aspect BETWEEN 1.0 AND 1.4
""",
    doc="Cross-modal curation: keep documents passing BOTH the text "
    "floor (>= 20 tokens) and an image-geometry gate (aspect in "
    "[1.0, 1.4]) — the text side runs JVM-side at scan speed, the "
    "image side through the Arrow mapInPandas decode path, joined on "
    "doc_id. The shape of every multimodal training-data filter: "
    "modality features computed in their own pipelines, combined "
    "declaratively.",
    tags=("multimodal", "curation", "join"),
)
def multimodal_curation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import token_counts

    img = multimodal_image_features(spark, sf_dir)  # register() returns fn as-is
    toks = token_counts(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("n_ws_tokens").alias("n_tokens")
    )
    return (
        img.select("doc_id", "aspect")
        .join(toks, "doc_id")
        .filter((F.col("n_tokens") >= 20) & F.col("aspect").between(1.0, 1.4))
        .select("doc_id", "n_tokens", "aspect")
    )
