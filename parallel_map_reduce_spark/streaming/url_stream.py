"""LIVE crawl-frontier URL dedup: canonical-URL first-seen suppression
on INGEST — the streaming half of the crawl front whose batch half is
``dedup_url_canonical`` (operators/url_canon.py).

A crawler's frontier asks one question per discovered link: have we
seen this page before, under ANY spelling? Each micro-batch
canonicalizes its URLs with the same codegen contract as the batch
entry, then ``dropDuplicates`` on the canonical key holds one state
row per unique page. Drained availableNow, the surviving key set
equals the batch distinct — so the live run shares the batch entry's
oracle family (DISTINCT canonical over the same fixture).

State contract at scale: one row per unique canonical URL — the
frontier's seen-set, exactly what production crawlers keep (in a
Bloom/RocksDB tier); like streaming_curation_dedup, there is no
event-time bound, so the production deployment runs a TTL'd store or
periodic compaction (documented there too). The canonicalization
itself adds NO state and NO shuffle beyond the dedup's key exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.url_canon import canonical_url_column
from ..sources.catalog import REFDATA_DIR
from .events_stream import _staging_dir

URL_FIXTURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("exp_canonical", StringType()),
    ]
)


def read_url_stream(spark: SparkSession) -> DataFrame:
    from ..sources.catalog import _ensure_session_confs

    _ensure_session_confs(spark)
    return spark.readStream.schema(URL_FIXTURE_SCHEMA).parquet(
        _staging_dir(REFDATA_DIR, "url_fixture")
    )


def url_frontier_stream(
    urls: DataFrame, scope_ids: DataFrame
) -> DataFrame:
    """(canonical_url): first-seen canonical keys of the scoped URL
    stream. ``scope_ids`` is the static (fid) frame of the sf's
    document ids — a stream-static broadcast semi-join, re-read per
    micro-batch (the dimension-enrichment shape of
    segment_enriched_stream)."""
    scoped = urls.join(
        F.broadcast(scope_ids), urls["doc_id"] % 2000 == scope_ids["fid"]
    )
    return (
        scoped.select(canonical_url_column("url").alias("canonical_url"))
        .dropDuplicates(["canonical_url"])
    )
