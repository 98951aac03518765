"""Structured Streaming pipelines over the events table.

The reference is strictly batch (two-barrier bulk-synchronous execution,
reference ``src/tema1.cpp:320-321``); streaming is a north-star
extension (SURVEY.md §2.2). Each pipeline here is the streaming twin of
a registered batch query in ``queries/streaming_batch.py``, and
``tests/test_streaming.py`` proves batch/stream equivalence by draining
the stream into a memory sink (``streaming/drain.py``) and comparing
against the batch plan on the same files.

Scale design: the file source is a placeholder for Kafka/queue sources
in production; everything downstream — watermark, windowed partial
aggregation, state store — is exactly what runs on a real cluster.
Watermarks bound state: late rows beyond the watermark are dropped
instead of growing state without bound at 100 TB/day rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Schema for readStream (the file streaming source requires an explicit
# schema). ts is TIMESTAMP(NANOS) in parquet; how the reader surfaces it
# is version-dependent (BIGINT nanos under the <=4.0 nanosAsLong legacy
# conf, native TIMESTAMP_NTZ on 4.1+), so the declared schema is derived
# from a batch-read probe of the same files at stream-construction time
# (read_events_stream) instead of being pinned here. Declaring the wrong
# type would not fail loudly: the parquet column would be reinterpreted
# and every timestamp silently lands in the wrong epoch.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

WATERMARK = "2 hours"


def _staging_dir(sf_dir: str, table: str = "events") -> str:
    """The file streaming source watches a *directory* (files arriving =
    new data); the testdata ships one parquet file per table, so stage
    it into a per-(sf_dir, table) temp directory via symlink."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(f"{sf_dir}:{table}".encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), "pmrs_stream", tag)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    target = os.path.join(sf_dir, f"{table}.parquet")
    # Atomic create-or-refresh: symlink to a temp name then os.replace over
    # the final name. Immune to two sessions racing past an exists() check,
    # and self-heals a stale link left by moved/regenerated testdata
    # (a dangling link would otherwise yield a silent 0-row stream).
    if os.path.realpath(link) != os.path.realpath(target):
        tmp = os.path.join(d, f".events.parquet.tmp.{os.getpid()}")
        try:
            os.symlink(target, tmp)
            os.replace(tmp, link)
        finally:
            if os.path.islink(tmp) or os.path.exists(tmp):
                os.unlink(tmp)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events parquet (file source; swap for Kafka
    in production — the downstream plan is identical). Converts nanos
    BIGINT to a proper timestamp exactly like the batch catalog."""
    from ..sources.catalog import _ensure_session_confs

    _ensure_session_confs(spark)
    from pyspark.sql.types import LongType

    staging = _staging_dir(sf_dir)
    # Probe the files with a batch read so the declared stream schema
    # matches THIS Spark version's parquet-nanos behavior (see
    # EVENTS_RAW_SCHEMA note) — a mismatched declared type silently
    # reinterprets the column instead of erroring. Through the
    # catalog's schema memo (r17 opt): only the first build of a given
    # source version pays the footer-inference job (~0.1 s per drain
    # build otherwise), and a restaged source still re-infers.
    from ..sources.catalog import read_parquet

    probed = read_parquet(spark, staging).schema
    # No maxFilesPerTrigger: an availableNow drain of a static staging dir
    # should process everything in ONE micro-batch — per-file micro-batching
    # here only multiplies trigger overhead (and would make the complete-mode
    # memory sink re-emit full state per file). Production backpressure
    # belongs to the real source (Kafka maxOffsetsPerTrigger etc.).
    raw = spark.readStream.schema(probed).parquet(staging)
    if isinstance(probed["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_tumbling_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``events_hourly_tumbling``: watermarked 1h
    tumbling window × event_type counts/sums. State per open window is
    bounded by the watermark."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_windows_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``events_sliding_windows``: 1h windows sliding
    every 30m. Note count(distinct) is unsupported in streaming agg, so
    the stream carries approx_count_distinct — documented deviation; the
    equivalence test compares n_events only."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "n_events",
            "n_users_approx",
        )
    )


def segment_enriched_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: the event stream enriched with the customer
    dimension (user_id → mktsegment), then a watermarked windowed count
    per (window, segment). The static side is re-read per micro-batch by
    the engine (picking up dim updates); with a small dim it plans as a
    broadcast join against each batch — the canonical streaming
    enrichment shape. Events without a matching customer fall into the
    'unknown' segment via a left join + coalesce."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return (
        events.join(dim, "user_id", "left")
        .withColumn("segment", F.coalesce("segment", F.lit("unknown")))
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "segment",
            "n_events",
        )
    )


def purchase_click_interval_join(
    purchases: DataFrame, clicks: DataFrame
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to every click
    by the same user in the preceding hour. Both sides carry watermarks
    and the join condition carries the time interval — that pair is what
    lets the engine BOUND the join state: a click older than
    (watermark - 1h) can never match a future purchase and its state is
    evicted, so state size is rate × window, not the whole history.
    This is the streaming twin of the batch as-of family; the inner
    interval join emits matches immediately (append mode)."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", WATERMARK)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", WATERMARK)
    joined = p.join(
        c,
        F.expr(
            """
            p_user = c_user AND
            c_ts >= p_ts - INTERVAL 1 HOUR AND
            c_ts <= p_ts
            """
        ),
    )
    return joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
    )


def dedup_keys_stream(events: DataFrame) -> DataFrame:
    """Streaming deduplication: first-seen suppression per
    (user_id, event_type) via ``dropDuplicatesWithinWatermark``.

    Within-watermark dedup is the SCALE form of streaming distinct:
    state holds only keys younger than the watermark delay (evicted as
    the watermark passes), so state size is rate x delay — plain
    ``dropDuplicates`` on a stream can never evict and grows state
    forever. The trade: a key recurring farther apart than the delay is
    re-emitted. The projection keeps only the key columns, so the drain
    output is the distinct key set — deterministic regardless of which
    physical row per key arrived first."""
    return (
        events.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
