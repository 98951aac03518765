"""LIVE streaming multimodal ingest: binary payloads decoded AS THEY
ARRIVE — the ingest-side of a multimodal training-data pipeline as a
Structured Streaming job.

Batch multimodal decode (queries/multimodal.py) assumes the media blobs
are already landed; a production pipeline runs the metadata pass on
arrival: each micro-batch of (doc_id, payload binary) rows flows
through the SAME Arrow ``mapInPandas`` decode body as the batch entry
(codec.py:image_features_map — real stdlib header parse,
imagehdr.py), scoped to the catalog's documents by a STREAM-STATIC
broadcast join (stateless; the dimension is metadata-sized). The
decode is per-row pure, so the drain needs no aggregation state at
all — the cheapest possible streaming operator shape.

Drained availableNow in append mode, the output equals the batch
``multimodal_image_features`` result row-for-row, so the LIVE run is
checked against the SAME DuckDB oracle (the fixture generator's
encode-time record). At 100 TB/day: swap the file source for
Kafka/object-store notifications; the plan below the source — and the
salting-by-payload-size balance story — is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..multimodal.codec import IMAGE_FEATURES_SCHEMA, image_features_map
from ..sources.catalog import REFDATA_DIR
from .events_stream import _staging_dir

IMAGE_FIXTURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("payload", BinaryType()),
        StructField("exp_width", LongType()),
        StructField("exp_height", LongType()),
        StructField("exp_channels", LongType()),
        StructField("exp_out_width", LongType()),
        StructField("exp_out_height", LongType()),
        StructField("exp_resized_crc32", LongType()),
    ]
)


def read_image_payload_stream(spark: SparkSession) -> DataFrame:
    """Streaming scan of the committed image fixture (file source; the
    arrival log of media blobs)."""
    return (
        spark.readStream.schema(IMAGE_FIXTURE_SCHEMA)
        .parquet(_staging_dir(REFDATA_DIR, "image_fixture"))
        .select("doc_id", "payload")
    )


def image_features_stream(payloads: DataFrame, docs_static: DataFrame) -> DataFrame:
    """IMAGE_FEATURES_SCHEMA rows decoded per micro-batch: stream-static
    broadcast join scopes arrivals to the catalog's documents, then the
    batch entry's exact Arrow decode body runs on each batch."""
    scoped = payloads.join(F.broadcast(docs_static.select("doc_id")), "doc_id")
    return scoped.mapInPandas(image_features_map, schema=IMAGE_FEATURES_SCHEMA)
