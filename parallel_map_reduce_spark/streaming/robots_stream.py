"""LIVE robots.txt politeness filter — the streaming half of the
crawl chain's exclusion step whose batch half is
``crawl_robots_filter`` (operators/robots.py, RFC 9309).

A crawler's fetch loop asks one question per frontier URL: may this
agent fetch this path on this host, under the host's CURRENT
robots.txt? The rules are a static dimension (parsed once per
robots refresh, one array row per host — bytes-bounded by the
protocol's 500 KiB file cap); arriving URLs are the stream. Each
micro-batch runs the SAME folded verdict as the batch entry: a
stream-static host-keyed join against the per-host rule arrays, then
a stateless in-row ``array_max`` over the matcher-filtered rules —
the politeness filter adds ZERO streaming state and ZERO stream-side
shuffles (no watermark, no aggregation; append mode emits every
verdict as it arrives). Drained availableNow over the committed
fixture, the verdict set equals the batch entry's, so the live run
shares its composition-backed DuckDB oracle.

Scale contract: the static side re-reads per micro-batch (the
dimension-refresh shape of segment_enriched_stream), which is exactly
how a production crawler picks up robots refreshes between batches;
state stays O(0) regardless of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.robots import robots_verdicts_folded
from ..sources.catalog import REFDATA_DIR
from .events_stream import _staging_dir

ROBOTS_FIXTURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("host", StringType()),
        StructField("robots_txt", StringType()),
        StructField("path", StringType()),
        StructField("exp_allowed", BooleanType()),
        StructField("exp_rule", StringType()),
        StructField("exp_rule_len", IntegerType()),
    ]
)


def read_robots_url_stream(spark: SparkSession) -> DataFrame:
    from ..sources.catalog import _ensure_session_confs

    _ensure_session_confs(spark)
    return spark.readStream.schema(ROBOTS_FIXTURE_SCHEMA).parquet(
        _staging_dir(REFDATA_DIR, "robots_fixture")
    )


def robots_filter_stream(
    urls: DataFrame, rules_by_host: DataFrame, scope_ids: DataFrame
) -> DataFrame:
    """(doc_id, host, path, allowed, matched_rule, rule_len): the
    scoped URL stream through the folded verdict. Both static sides
    (scope ids, per-host rule arrays) are broadcast stream-static
    joins re-read per micro-batch."""
    scoped = urls.join(
        F.broadcast(scope_ids), urls["doc_id"] % 2000 == scope_ids["fid"]
    ).select("doc_id", "host", "path")
    return robots_verdicts_folded(scoped, F.broadcast(rules_by_host))
