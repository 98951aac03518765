"""LIVE streaming CDC apply: foreachBatch MERGE into a versioned
parquet snapshot — the lakehouse change-feed consumer.

The batch entry (`queries/relational.py:orders_cdc_merge`) applies the
whole change feed at once; production feeds ARRIVE, and each
micro-batch must merge into the current table state transactionally.
This module runs that loop with Structured Streaming:

    change-feed stream -> foreachBatch(
        read current snapshot version,
        merge_changes (union + single max_by aggregate, operators/cdc.py),
        write version N+1, advance the pointer)

Version directories + an atomically-advanced pointer stand in for a
table format's transaction log (with Delta/Iceberg the _apply body
becomes one MERGE INTO; the dataflow inside is identical). Writing a
NEW directory per version keeps the read-modify-write safe: the batch
being written never overwrites the files it is reading.

Sequential batch application is equivalent to the one-shot merge
whenever per-key sequence numbers arrive non-decreasing across batches
(latest-wins is then confluent): an update for a key deleted in an
earlier batch upserts it — the same row the one-shot merge keeps,
since that update's sequence outranks the delete. The pytest contract
splits the feed by generation across micro-batches and pins final
state == one-shot.

Provenance: the snapshot carries a ``src`` marker as ordinary payload
('K' initially; each winning feed row stamps its own op), so after any
number of batches ``src`` reads "this row's state relative to the
ORIGINAL snapshot" — exactly the batch entry's output, letting the
live drain share its DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain, fresh_result_dir
from .events_stream import _staging_dir


def read_orders_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the staged orders parquet (swap for a
    Kafka/CDC-connector source in production; downstream is identical)."""
    from ..sources.catalog import _ensure_session_confs

    _ensure_session_confs(spark)
    staging = _staging_dir(sf_dir, table="orders")
    # memoized schema probe (catalog.read_parquet): zero-job on warm
    # rebuilds of the same source version
    from ..sources.catalog import read_parquet

    probed = read_parquet(spark, staging).schema
    return spark.readStream.schema(probed).parquet(staging)


def apply_feed_batch(
    spark: SparkSession, store: str, version: int, feed: DataFrame
) -> int:
    """Merge one change-feed batch into snapshot version N, producing
    N+1. Returns the new version number."""
    from ..operators.cdc import merge_changes

    cur = spark.read.parquet(os.path.join(store, f"v{version}"))
    # src rides along as payload: winning feed rows stamp their op.
    merged = merge_changes(
        cur,
        feed.withColumn("src", F.col("op")),
        ["o_orderkey"],
        seq_col="seq",
        op_col="op",
    ).drop("op")
    merged.write.mode("overwrite").parquet(os.path.join(store, f"v{version + 1}"))
    return version + 1


def run_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the orders change feed through foreachBatch MERGE; return
    the final snapshot (oracle shape, identical to the batch entry)."""
    from ..queries.relational import cdc_feed, cdc_present, cdc_snapshot
    from ..sources.catalog import load_table

    store = fresh_result_dir("pmrs_cdc_store", sf_dir)
    base = cdc_snapshot(load_table(spark, sf_dir, "orders")).withColumn(
        "src", F.lit("K")
    )
    base.write.mode("overwrite").parquet(os.path.join(store, "v0"))
    state = {"version": 0}

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        state["version"] = apply_feed_batch(
            spark, store, state["version"], cdc_feed(batch_df)
        )

    drain(read_orders_stream(spark, sf_dir), foreach_batch=_apply)
    # Prune superseded intermediate versions — the lazy reader below
    # only ever touches the final one.
    for v in range(state["version"]):
        shutil.rmtree(os.path.join(store, f"v{v}"), ignore_errors=True)
    final = spark.read.parquet(os.path.join(store, f"v{state['version']}"))
    return cdc_present(final)
